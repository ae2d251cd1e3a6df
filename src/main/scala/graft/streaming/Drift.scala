package graft.streaming

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, MapType, StructField, StructType}
import org.apache.spark.sql.{Column, DataFrame}

/** Schema-drift detection primitives shared by every pipeline kind —
  * the streaming operationalization of the reference's DDL-event
  * awareness (R7, `DebeziumEngineRecordHandler.java:164-167`): a conf's
  * declared schema is the pipeline's contract, and these column
  * builders measure how a RAW wire payload diverges from it. Detection
  * is per-FIELD re-parse of the raw after payload, deliberately NOT the
  * typed struct: a malformed value nulls the whole struct under
  * PERMISSIVE `from_json`, which would smear one bad field over every
  * declared column. Originally [[CdcPipeline]]-private (lww only);
  * lifted here so the delta-log kinds' [[DriftGate]] judges the
  * identical divergence.
  */
object Drift {

  /** The raw after payload of a wire value — both envelope shapes. */
  def rawAfter(value: Column): Column = coalesce(
    get_json_object(value, "$.payload.after"),
    get_json_object(value, "$.after"))

  /** The wire op, parsed from the raw value (for frames that have not
    * gone through the typed envelope parse — the gate's input).
    */
  def rawOp(value: Column): Column = coalesce(
    get_json_object(value, "$.payload.op"),
    get_json_object(value, "$.op"))

  /** Undeclared payload field names of a raw after payload. */
  def newFieldsOf(aj: Column, rowSchema: StructType): Column =
    array_except(json_object_keys(aj),
      typedlit(rowSchema.fieldNames.toSeq))

  /** true iff this declared field's raw value is present but fails its
    * declared type. Scalars re-parse with `try_cast` (ANSI `cast`
    * throws on exactly the malformed value this monitor exists to
    * OBSERVE); complex types (array/struct/map — e.g. an embedding
    * column) re-parse with PERMISSIVE `from_json`, because Spark
    * defines no string→complex cast — a null parse of a present raw
    * value is the type breach (a vector with a non-numeric element, a
    * changed nesting shape).
    */
  def fieldBadType(aj: Column, f: StructField): Column = {
    val raw = get_json_object(aj, s"$$.${f.name}")
    val parsedNull = f.dataType match {
      case _: ArrayType | _: StructType | _: MapType =>
        from_json(raw, f.dataType).isNull
      case dt => raw.try_cast(dt).isNull
    }
    raw.isNotNull && parsedNull
  }

  /** true iff ANY declared field's raw value fails its declared type. */
  def anyBadTypeOf(aj: Column, rowSchema: StructType): Column =
    rowSchema.fields.toSeq.map(fieldBadType(aj, _)).reduce(_ || _)

  /** Per-batch drift VERDICT over a frame of wire events carrying
    * (`op`, `value`) columns: counts rows with undeclared fields, rows
    * with a bad-typed declared field, the distinct undeclared names and
    * the changed declared names — recorded into the metrics store's
    * `_drift` table under `pipeline` (every drained batch records;
    * zeros are the healthy heartbeat). One aggregate job over the
    * (caller-pinned) frame on the healthy path; a batch that actually
    * drifted pays two more bounded jobs (exact distinct-name count +
    * the capped name sample). Deletes are skipped — they carry no
    * after.
    */
  def recordSchemaDrift(src: DataFrame, rowSchema: StructType,
      pipeline: String, batchId: Long,
      m: PipelineMetrics.Target): CdcPipeline.DriftVerdict = {
    val names = rowSchema.fieldNames.toSeq
    // the lww path hands a PARSED frame (op column); the gate hands the
    // raw wire — parse op from the value then. Missing op counts as
    // non-delete: the monitor observes, downstream filters judge
    val opCol = if (src.columns.contains("op")) col("op")
      else rawOp(col("value"))
    val base = src.filter(coalesce(opCol, lit("c")) =!= "d")
      .select(rawAfter(col("value")).as("aj")).filter(col("aj").isNotNull)
      .select(col("aj"), newFieldsOf(col("aj"), rowSchema).as("newfs"))
    val tcFlags = rowSchema.fields.toSeq.map(f =>
      fieldBadType(col("aj"), f).as(s"tc_${f.name}"))
    val agg = base
      .select((col("newfs") +: (size(col("newfs")) > 0).as("has_new") +:
        tcFlags): _*)
      .agg(sum(when(col("has_new"), 1L).otherwise(0L)).as("rows_new"),
        (sum(when(names.map(n => col(s"tc_$n")).reduce(_ || _), 1L)
          .otherwise(0L)).as("rows_badtype") +:
          names.map(n =>
            max(when(col(s"tc_$n"), 1L).otherwise(0L)).as(s"any_$n"))): _*)
      .collect().headOption
    val (rowsNew, rowsBad, changed) = agg match {
      case Some(r) => (
        Option(r.getAs[Any]("rows_new")).fold(0L)(_.asInstanceOf[Long]),
        Option(r.getAs[Any]("rows_badtype")).fold(0L)(_.asInstanceOf[Long]),
        names.filter(n =>
          Option(r.getAs[Any](s"any_$n")).fold(0L)(_.asInstanceOf[Long]) > 0))
      case None => (0L, 0L, Seq.empty[String])
    }
    // the distinct undeclared names are NOT schema-bounded — the
    // pathological wire this monitor exists to catch (ids serialized
    // as field names) makes the set row-sized, and an unbounded
    // collect would blow the driver on every micro-batch. The COUNT
    // stays exact (distributed aggregate); only the recorded name
    // SAMPLE is capped, with the truncation visible in the verdict
    // row. A batch with zero new-field rows cannot carry a new name
    // (a column exists iff some row carries it), so the healthy
    // heartbeat pays NEITHER extra job — only drifted batches run the
    // count + bounded sample.
    val (newColsExact, newNames) =
      if (rowsNew == 0L) (0L, Seq.empty[String])
      else {
        val distinctNames =
          base.select(explode(col("newfs")).as("f")).distinct()
        (distinctNames.count(),
          distinctNames.orderBy(col("f")).limit(maxRecordedNames)
            .collect().map(_.getString(0)).toSeq)
      }
    val joinedNames = newNames.mkString(",")
    val joinedChanged = changed.mkString(",")
    // truncated means the ROW does not carry every name, on EITHER
    // list: the new-name sample was capped OR either joined list
    // exceeds the store's 1024-char VARCHAR (recordDrift takes 1024 —
    // without this, a char-capped list of long names would read as
    // complete; changed_names is schema-bounded but many/long declared
    // fields can still overflow the column)
    val namesTruncated =
      newColsExact > newNames.size || joinedNames.length > 1024 ||
        joinedChanged.length > 1024
    PipelineMetrics.recordDrift(m, pipeline, batchId,
      newCols = newColsExact, typeChanges = changed.size.toLong,
      rowsNew = rowsNew, rowsBadtype = rowsBad,
      newColNames = joinedNames,
      changedNames = joinedChanged,
      namesTruncated = namesTruncated)
    CdcPipeline.DriftVerdict(newColsExact, changed.size.toLong,
      rowsNew, rowsBad)
  }

  /** Cap on the undeclared-name SAMPLE a verdict row records — counts
    * stay exact; beyond this the row's `names_truncated` flag is set.
    */
  val maxRecordedNames: Int = 100

  /** DROP-action drift enforcement — one path for the lww kind (over its
    * batch's upsert WINNERS, the rows that would actually serve) and
    * the delta-log kinds' [[DriftGate]] (over raw EVENTS, before the
    * table log). `value` is the rows' raw wire value. A row whose raw
    * after payload fails a declared type is withheld ALWAYS (serving it
    * would silently null the field — a known-bad document; budgets
    * govern verdicts, never license serving bad rows), and rows
    * carrying undeclared fields are withheld only when the batch's
    * distinct new-column count breaches `newColsBudget` (tolerated
    * schema evolution serves; a breach fences every drifted row until
    * the conf evolves). Deletes carry no after and never match.
    * Withheld rows dead-letter under
    * `<dlDir>/_drift/pipeline=<tag>/batch_id=<id>` (per-batch partition
    * OVERWRITE — replay-idempotent, and a separate subtree from
    * `_expect` so neither enforcement's write clobbers the other's),
    * tagged drift_badtype / drift_newcols, beside the `kind` marker.
    * Returns the rows that may serve.
    */
  def dropViolators(rows: DataFrame, value: Column, rowSchema: StructType,
      verdict: CdcPipeline.DriftVerdict, policy: CdcPipeline.DriftPolicy,
      tag: String, kind: String, deadLetterDir: Option[String],
      batchId: Long): DataFrame = {
    val newColsBreached = verdict.newCols > policy.newColsBudget
    if (verdict.rowsBadtype == 0L && !(newColsBreached && verdict.rowsNew > 0L))
      rows
    else {
      val aj = rawAfter(value)
      val judged = coalesce(rawOp(value) =!= "d", lit(true)) && aj.isNotNull
      val tagged = rows.withColumn("__viol", array_compact(array(
        when(judged && anyBadTypeOf(aj, rowSchema), lit("drift_badtype")),
        if (newColsBreached) when(judged &&
          size(newFieldsOf(aj, rowSchema)) > 0, lit("drift_newcols"))
        else lit(null).cast("string"))))
        .localCheckpoint(true)
      val viol = tagged.filter(size(col("__viol")) > 0)
      deadLetterDir.foreach { dir =>
        val safe = PipelineMetrics.sanitizedPipeline(tag)
        // the RAW after payload, not the typed row: a bad-typed field
        // nulls the whole struct under PERMISSIVE parsing, so the typed
        // form of exactly the rows this path withholds is empty — the
        // operator repairing drift needs the original bytes (undeclared
        // fields and the malformed value included)
        viol.select(array_join(col("__viol"), ",").as("violated"),
          aj.as("row_json"))
          .write.mode("overwrite")
          .parquet(s"$dir/_drift/pipeline=$safe/batch_id=$batchId")
        PipelineMetrics.writeKindMarker(viol.sparkSession, dir, "_drift",
          safe, kind)
      }
      tagged.filter(size(col("__viol")) === 0).drop("__viol")
    }
  }

  /** Halt escalation: a breach of either budget fails the micro-batch
    * AFTER the verdict records (observable breach, then quarantine —
    * the expectation Halt lifecycle).
    */
  def haltOnBreach(policy: CdcPipeline.DriftPolicy,
      verdict: CdcPipeline.DriftVerdict, pipeline: String,
      batchId: Long): Unit =
    if (policy.action == graft.ops.Profile.Halt) {
      if (verdict.newCols > policy.newColsBudget)
        throw new graft.ops.Profile.HaltException(pipeline, batchId,
          "drift_newcols", verdict.newCols, policy.newColsBudget)
      if (verdict.rowsBadtype > policy.badTypeRowsBudget)
        throw new graft.ops.Profile.HaltException(pipeline, batchId,
          "drift_badtype", verdict.rowsBadtype, policy.badTypeRowsBudget)
    }
}
