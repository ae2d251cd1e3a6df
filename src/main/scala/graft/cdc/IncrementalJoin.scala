package graft.cdc

import graft.streaming.StatefulLww
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.{Column, DataFrame, Dataset}

/** Incrementally-maintained JOIN view from two CDC delta streams — the
  * denormalized-document shape the reference's Elasticsearch sink
  * implies (`ElasticsearchUtils.java:101-155`: upserted documents are
  * enriched rows, and keeping them current under updates on EITHER
  * table needs Δ(A⋈B), not snapshot re-joins).
  *
  * Algebra: Δ(A⋈B) = ΔA⋈B ∪ A⋈ΔB ∪ ΔA⋈ΔB, realized as a symmetric
  * stateful join: both sides' deltas shuffle ONCE on the join key, and
  * per-key state holds exactly the live rows of that key — the dim row
  * plus the fact rows referencing it (the N:1 denormalization shape).
  * A fact delta touches one enriched row; a dim delta re-emits that
  * key's live facts — each CHANGE does work proportional to what it
  * invalidates, never to table size. A fact update that MOVES the join
  * key retracts under the old key and inserts under the new one (its
  * ±rows route to different groups).
  *
  * Two stateful operators realize it — [[viewDeltaStream]] (applies a
  * key's deltas in source-batch `seq` order) and
  * [[alignedViewDeltaStream]] (parks deltas until the cross-feed
  * watermark passes their source ts) — sharing one routing, one
  * in-order application and one emission diff.
  *
  * Emission contract: per micro-batch the operator diffs the key's
  * enriched rows before/after and emits ViewDelta upserts/deletes keyed
  * by the fact id (an applied fact +row re-emits even unchanged; see
  * [[viewDeltaStream]]'s emission asymmetry). A key-move produces a delete (old key's group) AND an
  * upsert (new key's group) for the same fact id in one batch, so
  * consumers MUST apply deletes before upserts within a batch (or
  * equivalently let an upsert win over a delete for the same id) —
  * [[applyBatch]] encodes this fold.
  *
  * Scale: state per join key = 1 dim row + that key's live fact rows,
  * i.e. exactly the rows any co-partitioned join materializes for the
  * key; totals are bounded by LIVE data, not stream history. Skewed
  * join keys concentrate state the same way they concentrate any
  * shuffle — the q36 salting pattern applies upstream if a key's fact
  * set outgrows a partition.
  */
object IncrementalJoin {

  /** One enriched-view change, keyed by the fact row's id. The prev*
    * fields carry the enriched row the id showed BEFORE this delta
    * (null when it was not in the view) — what downstream incremental
    * aggregates retract, exactly as StatefulLww.Delta.prevJson does for
    * base tables.
    */
  case class ViewDelta(factId: Long, action: String, factJson: String,
      dimJson: String, prevFactJson: String, prevDimJson: String)

  /** Per-join-key state: the live dim row (null when absent) and the
    * live fact rows referencing the key.
    */
  case class JoinState(dimJson: String, facts: Map[Long, String])

  /** A delta's +new or −prev row routed by the join key its payload
    * names — what both view-delta operators fold.
    */
  sealed trait Routed {
    def side: String; def sgn: Int; def id: Long; def rowJson: String
  }

  /** Routed ±row with its source-batch sequence number. Not private —
    * Catalyst's SafeProjection constructs it.
    */
  case class JInS(jk: Long, side: String, sgn: Int, id: Long,
      rowJson: String, seq: Long) extends Routed

  /** ±rows of a delta relation ([[StatefulLww.signed]]) routed by the
    * join-key field extracted from the row payload: +new under its key,
    * −prev under ITS key (a key-moving update retracts and inserts under
    * different groups). Null join keys match nothing (inner-join
    * semantics) and are dropped at the source. `keep` columns ride
    * along (the application order).
    */
  private def routed(deltas: DataFrame, joinField: String, side: String,
      keep: Column*): DataFrame =
    StatefulLww.signed(deltas, _.as("js"), col("key").as("id") +: keep: _*)
      .select(col("*"),
        get_json_object(col("c.js"), s"$$.$joinField").cast("long").as("jk"),
        lit(side).as("side"), col("c.sgn").as("sgn"), col("c.js").as("rowJson"))
      .drop("c")
      .filter(col("jk").isNotNull)

  /** ONE source batch's routed rows applied to a key's state: a
    * surviving +dim row sets the dim, a lone −dim clears it; per fact id
    * a +row means live-with-that-row, only-− means gone.
    */
  private def applyOneBatch(dim0: String, facts0: Map[Long, String],
      rows: Seq[Routed]): (String, Map[Long, String]) = {
    val dimRows = rows.filter(_.side == "d")
    val dim = dimRows.find(_.sgn > 0).map(_.rowJson)
      .getOrElse(if (dimRows.nonEmpty) null else dim0)
    val facts = rows.filter(_.side == "f").groupBy(_.id)
      .foldLeft(facts0) { case (m, (id, rs)) =>
        rs.find(_.sgn > 0) match {
          case Some(p) => m.updated(id, p.rowJson)
          case None    => m - id
        }
      }
    (dim, facts)
  }

  /** Apply a key's routed rows one source batch at a time in ascending
    * `order`, then diff the key's enriched rows before/after into
    * ViewDeltas (the emission contract in [[viewDeltaStream]]'s doc).
    * Returns the new (dim, facts) and the emissions.
    */
  private def fold[R <: Routed](dim0: String, facts0: Map[Long, String],
      rows: Seq[R], order: R => Long, leftOuter: Boolean)
      : (String, Map[Long, String], Iterator[ViewDelta]) = {
    val (dim, facts) = rows.groupBy(order).toSeq.sortBy(_._1)
      .foldLeft((dim0, facts0)) { case ((d, fs), (_, rs)) =>
        applyOneBatch(d, fs, rs) }
    // the key's enriched rows under each state: inner drops facts
    // while the dim is absent; left-outer serves them null-enriched
    def enrichedRows(dm: String, fs: Map[Long, String]): Map[Long, (String, String)] =
      if (!leftOuter && dm == null) Map.empty
      else fs.map { case (id, r) => id -> (r, dm) }
    val before = enrichedRows(dim0, facts0)
    val after = enrichedRows(dim, facts)
    // fact ids whose +row was APPLIED: they emit even value-unchanged —
    // but only if still LIVE in `after` (an insert-then-delete catch-up
    // nets to nothing)
    val touched = rows.collect { case r if r.side == "f" && r.sgn > 0 => r.id }.toSet
    val upserts = after.collect {
      case (id, (f, d)) if !before.get(id).contains((f, d)) || touched(id) =>
        val p = before.get(id)
        ViewDelta(id, "upsert", f, d, p.map(_._1).orNull, p.map(_._2).orNull)
    }
    val deletes = before.collect {
      case (id, (f, d)) if !after.contains(id) =>
        ViewDelta(id, "delete", null, null, f, d)
    }
    (dim, facts, upserts.iterator ++ deletes.iterator)
  }

  /** The maintained view's delta stream. `factDeltas` / `dimDeltas` are
    * StatefulLww-shaped relations (key, action, rowJson, prevJson),
    * streaming or batch; `factJoinField` / `dimJoinField` name the join
    * key inside each side's row payload.
    *
    * `leftOuter = true` switches to the serving semantics a real CDC
    * denormalization needs (the reference's ES upsert keyed by fact id,
    * `ElasticsearchUtils.java:137-151`): a fact with NO live dim row is
    * still in the view, enriched with null dim fields; a late-arriving
    * dim UPGRADES those rows in place (an upsert wave carrying the
    * null-enriched prev rows), and a dim delete DOWNGRADES its facts
    * back to null-enriched instead of deleting them.
    *
    * SEQ ORDER: a delta may carry a `seq` column (a delta log's
    * batch_id); a relation without one folds as seq 0. A micro-batch may
    * contain SEVERAL source batches' deltas for one key — the fold
    * applies them in ascending seq order. This is what lets a composed
    * stage consume a MATERIALIZED delta log through a plain file
    * stream: the file source batches files by availability, not by the
    * log's batch boundaries, so a resumed consumer can legally see
    * batches 3..7 of a key at once — the seq column restores the
    * per-key application order that arrival order lost. Emission still
    * diffs the key's enriched rows once per micro-batch (intermediate
    * states of a multi-seq catch-up collapse, which is exactly the
    * collapsed delta a serving sink wants).
    *
    * INPUT CONTRACT: at most ONE delta per key per (side, seq) — exactly
    * what StatefulLww.deltaStream emits per micro-batch (it collapses a
    * batch to each key's winner) and what a StatefulLww-built
    * batch_id-partitioned log satisfies by construction. Two deltas for
    * one key in one seq have no defined application order after the
    * shuffle, so a non-collapsed feed must be LWW-collapsed first
    * (pinned in the model spec).
    *
    * EMISSION ASYMMETRY: a FACT whose +row was applied this micro-batch
    * re-emits its enriched row even when the value is unchanged, while
    * an unchanged DIM emits nothing. The asymmetry is cost-shaped and
    * lifecycle-required: a dim touch fans out to ALL the key's facts
    * (suppression is the optimization that keeps dim heartbeats from
    * re-serving whole key groups), but a fact touch is ONE
    * store-addressed row whose re-emission is idempotent at every sink —
    * and it is what lets the serving store RECONVERGE with the join
    * state after the two legitimately diverge: enforcement Drop withheld
    * the row (ViewPipeline's quarantine), the keyed replay re-injects
    * the fact's unchanged truth at a fresh epoch, and without
    * re-emission that replay would be silently absorbed here, leaving
    * the quarantined key unservable forever. Downstream incremental
    * aggregates see prev == new and retract/re-add the same
    * contribution — net zero.
    */
  def viewDeltaStream(factDeltas: DataFrame, dimDeltas: DataFrame,
      factJoinField: String, dimJoinField: String,
      leftOuter: Boolean = false): Dataset[ViewDelta] = {
    val spark = factDeltas.sparkSession
    import spark.implicits._
    def side(d: DataFrame, field: String, tag: String) = routed(d, field, tag,
      (if (d.columns.contains("seq")) col("seq").cast("long") else lit(0L))
        .as("seq"))
    side(factDeltas, factJoinField, "f")
      .unionByName(side(dimDeltas, dimJoinField, "d"))
      .as[JInS]
      .groupByKey(_.jk).flatMapGroupsWithState(
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: Long, it: Iterator[JInS], state: GroupState[JoinState]) =>
          val old = state.getOption.getOrElse(JoinState(null, Map.empty))
          val (dim, facts, out) =
            fold(old.dimJson, old.facts, it.toVector, (r: JInS) => r.seq, leftOuter)
          if (dim == null && facts.isEmpty) state.remove()
          else state.update(JoinState(dim, facts))
          out
      }
  }

  /** A delta with its SOURCE timestamp — the alignment key: all deltas
    * of one source transaction carry the same ts_ms on every table's
    * feed (Debezium stamps the transaction's commit time).
    */
  case class TsDelta(key: Long, action: String, rowJson: String,
      prevJson: String, tsMs: Long)

  /** Routed ±row with source ts. `eventTime` duplicates tsMs as the
    * watermarked timestamp column — Spark requires it to REACH the
    * stateful operator for event-time timeouts. Not private —
    * SafeProjection constructs it.
    */
  case class JInT(jk: Long, side: String, sgn: Int, id: Long,
      rowJson: String, tsMs: Long, eventTime: java.sql.Timestamp) extends Routed

  /** Aligned per-key state: the applied view state plus the parked
    * not-yet-released deltas (ts beyond the cross-feed high-water).
    */
  case class AlignedState(dimJson: String, facts: Map[Long, String],
      pending: List[JInT])

  /** TRANSACTION-ALIGNED view-delta stream: like [[viewDeltaStream]],
    * but a delta is APPLIED (and its effect emitted) only once the
    * cross-feed high-water mark has passed its source ts — so a source
    * transaction spanning fact AND dim tables (same commit ts on both
    * feeds) applies atomically, never exposing a half-applied enriched
    * row to the serving sink. Released deltas apply in ts order, whole
    * transactions at a time, with [[viewDeltaStream]]'s emission rule.
    *
    * The high-water mark is Spark's own multi-source watermark: each
    * feed gets its OWN `withWatermark` node before the union, and the
    * query watermark is their MIN (the default multipleWatermarkPolicy),
    * i.e. exactly min(high-water ts across the two feeds). Incoming
    * deltas with ts beyond it park in per-key state; EventTimeTimeout
    * re-invokes the key when the watermark passes the earliest parked
    * ts, and releases apply in ts order. `delay` is the feeds' disorder
    * bound (watermark delay): like every event-time-timeout operator,
    * deltas arriving later than that bound behind the watermark are
    * dropped by Spark's late-row filter — size `delay` to the feeds'
    * real disorder (a CDC log replayed in offset order is nearly
    * ordered; cross-feed lag is the quantity to bound).
    *
    * Production note: like any watermark-gated operator, emission lags
    * one micro-batch behind arrival and the stream needs traffic (or
    * heartbeats, Replay.stageEventsWithFlush's pattern) to push the
    * watermark past the tail transaction.
    */
  def alignedViewDeltaStream(factDeltas: Dataset[TsDelta],
      dimDeltas: Dataset[TsDelta], factJoinField: String,
      dimJoinField: String, delay: String = "0 milliseconds",
      leftOuter: Boolean = false): Dataset[ViewDelta] = {
    val spark = factDeltas.sparkSession
    import spark.implicits._
    def side(d: Dataset[TsDelta], field: String, tag: String) =
      routed(d.toDF().withColumn("eventTime", timestamp_millis(col("tsMs")))
        .withWatermark("eventTime", delay), field, tag,
        col("tsMs"), col("eventTime"))
    side(factDeltas, factJoinField, "f")
      .unionByName(side(dimDeltas, dimJoinField, "d"))
      .as[JInT]
      .groupByKey(_.jk).flatMapGroupsWithState(
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (_: Long, it: Iterator[JInT], state: GroupState[AlignedState]) =>
          val wm = state.getCurrentWatermarkMs()
          val old = state.getOption.getOrElse(AlignedState(null, Map.empty, Nil))
          val (release, park) =
            (old.pending.iterator ++ it).toVector.partition(_.tsMs <= wm)
          // whole transactions in commit order: all released rows of one
          // ts together, ts ascending
          val (dim, facts, out) =
            fold(old.dimJson, old.facts, release, (r: JInT) => r.tsMs, leftOuter)
          if (dim == null && facts.isEmpty && park.isEmpty) state.remove()
          else {
            state.update(AlignedState(dim, facts, park.toList))
            // re-invoke this key when the watermark passes the earliest
            // parked transaction (park rows all have ts > wm)
            if (park.nonEmpty) state.setTimeoutTimestamp(park.map(_.tsMs).min)
          }
          out
      }
  }

  /** A view-delta relation AS a delta relation for the NEXT join stage —
    * what makes incremental views COMPOSE into multi-way joins: the
    * enriched (fact ⋈ dim) row becomes the new stage's fact payload (one
    * flat JSON merging both sides' fields — names must not collide), and
    * the ViewDelta's prev rows become its prevJson, so a second
    * [[viewDeltaStream]] can route ±rows by a field from EITHER side
    * (e.g. the dim's c_nationkey → nation, a dim-of-dim). Map-only —
    * safe on streaming frames.
    *
    * NOTE: a key-move emits (delete, upsert) for one factId in one
    * batch, violating the next stage's one-delta-per-key contract — run
    * [[collapseBatch]] per micro-batch (or latest-per-key on a log
    * bootstrap) before feeding this into another join stage.
    */
  def asDeltaRelation(viewDeltas: DataFrame,
      factSchema: org.apache.spark.sql.types.StructType,
      dimSchema: org.apache.spark.sql.types.StructType): DataFrame = {
    val parsed = viewDeltas.select(col("factId").as("key"), col("action"),
      from_json(col("factJson"), factSchema).as("_f"),
      from_json(col("dimJson"), dimSchema).as("_d"),
      from_json(col("prevFactJson"), factSchema).as("_pf"),
      from_json(col("prevDimJson"), dimSchema).as("_pd"))
    def merged(f: String, d: String) = to_json(struct(
      factSchema.fieldNames.map(n => col(s"$f.$n").as(n)).toSeq ++
        dimSchema.fieldNames.map(n => col(s"$d.$n").as(n)): _*))
    parsed.select(col("key"), col("action"),
      when(col("_f").isNotNull, merged("_f", "_d")).as("rowJson"),
      when(col("_pf").isNotNull, merged("_pf", "_pd")).as("prevJson"))
  }

  /** Collapse ONE micro-batch of view deltas to at most one delta per
    * factId — the input contract of a composed second join stage. The
    * only multi-delta case the emission contract allows is a key-move's
    * (delete, upsert) pair, which folds to a single upsert whose prev is
    * the DELETE's prev (the enriched row the view actually held). Runs
    * in batch context (foreachBatch or a log bootstrap), one shuffle.
    */
  def collapseBatch(viewDeltas: DataFrame): DataFrame =
    viewDeltas.groupBy(col("factId"))
      .agg(
        max(when(col("action") === "upsert", 1).otherwise(0)).as("_up"),
        first(when(col("action") === "upsert",
          struct(col("factJson"), col("dimJson"))), ignoreNulls = true).as("_new"),
        first(when(col("action") === "delete",
          struct(col("prevFactJson"), col("prevDimJson"))), ignoreNulls = true)
          .as("_delPrev"),
        first(when(col("action") === "upsert",
          struct(col("prevFactJson"), col("prevDimJson"))), ignoreNulls = true)
          .as("_upPrev"))
      .select(col("factId"),
        when(col("_up") === 1, "upsert").otherwise("delete").as("action"),
        col("_new.factJson").as("factJson"),
        col("_new.dimJson").as("dimJson"),
        coalesce(col("_delPrev"), col("_upPrev")).getField("prevFactJson")
          .as("prevFactJson"),
        coalesce(col("_delPrev"), col("_upPrev")).getField("prevDimJson")
          .as("prevDimJson"))

  /** Incrementally-maintained AGGREGATE over the join view — the
    * composition Δ(A⋈B) → γ that makes the denormalized-serving story
    * complete: a per-dim-group count and money total maintained from
    * the enriched-view delta stream, never from a snapshot join. Each
    * ViewDelta contributes (+new enriched row, −prev enriched row);
    * group and value can live on EITHER side of the join (group from
    * the dim row, value from the fact row here), and a dim update that
    * moves facts between groups retracts/re-adds them for free — the
    * same ± algebra as cdc.IncrementalAgg, lifted to the joined
    * relation. Money runs through the integer-cents fixed point
    * (IncrementalAgg's cross-engine rule).
    */
  def sumCountByGroup(viewDeltas: DataFrame,
      factSchema: org.apache.spark.sql.types.StructType,
      dimSchema: org.apache.spark.sql.types.StructType,
      groupField: String, valueField: String): DataFrame =
    contributions(viewDeltas, factSchema, dimSchema, groupField, valueField)
      .filter(col("n_rows") =!= 0)
      .select(col(groupField), col("n_rows"),
        col("total_dec").cast("double").as("total"))

  /** Per-group NET contributions of a view-delta batch — the unfiltered
    * form an additive JDBC MERGE consumes: a batch of pure dim renames
    * within a group nets n_rows = 0 with zero money movement, but a
    * re-price nets 0 rows with a NONZERO money delta, and the merge
    * must still apply it (IncrementalAgg.contributions' rule, lifted to
    * the joined relation).
    */
  def contributions(viewDeltas: DataFrame,
      factSchema: org.apache.spark.sql.types.StructType,
      dimSchema: org.apache.spark.sql.types.StructType,
      groupField: String, valueField: String): DataFrame = {
    val signed = viewDeltas.select(explode(filter(array(
        when(col("factJson").isNotNull,
          struct(lit(1).as("sgn"), col("factJson").as("fj"), col("dimJson").as("dj"))),
        when(col("prevFactJson").isNotNull,
          struct(lit(-1).as("sgn"), col("prevFactJson").as("fj"),
            col("prevDimJson").as("dj")))),
      x => x.isNotNull)).as("c"))
      .select(col("c.sgn").as("sgn"),
        from_json(col("c.fj"), factSchema).as("f"),
        from_json(col("c.dj"), dimSchema).as("d"))
    signed
      .groupBy(col(s"d.$groupField").as(groupField))
      .agg(sum(col("sgn")).cast("long").as("n_rows"),
        (sum(col("sgn") * floor(col(s"f.$valueField") * 100d + 0.5d))
          .cast("decimal(18,2)") / 100).cast("decimal(18,2)").as("total_dec"))
  }

  /** Materialize the CURRENT view from a batch-partitioned view-delta
    * log (cdc.DeltaLog's `batch_id=` layout): per fact id the LATEST
    * batch wins, with upsert preferred over the same batch's key-move
    * delete (applyBatch's deletes-before-upserts order, expressed
    * relationally); ids whose last word is a delete drop out. Unlike a
    * bare `filter(action = upsert)`, this is correct for logs spanning
    * ANY number of micro-batches.
    */
  def materializeLatest(viewDeltaLog: DataFrame): DataFrame = {
    // explicit priority, not lexicographic order on the action string —
    // "upsert" > "delete" happens to sort right today, but any future
    // action name would silently reorder the same-batch key-move pair
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("factId"))
      .orderBy(col("batch_id").cast("long").desc,
        when(col("action") === "upsert", 1).otherwise(0).desc)
    viewDeltaLog
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1 && col("action") === "upsert")
      .drop("rn")
  }

  /** Fold one micro-batch of view deltas into a materialized view map —
    * deletes first, then upserts, so a key-move's (delete, upsert) pair
    * for the same fact id lands on the upsert. This is the contract any
    * sink must follow (JdbcSink E2E applies the same order).
    */
  def applyBatch(view: Map[Long, (String, String)],
      deltas: Seq[ViewDelta]): Map[Long, (String, String)] = {
    val afterDeletes = deltas.filter(_.action == "delete")
      .foldLeft(view)((m, d) => m - d.factId)
    deltas.filter(_.action == "upsert")
      .foldLeft(afterDeletes)((m, d) =>
        m.updated(d.factId, (d.factJson, d.dimJson)))
  }
}
