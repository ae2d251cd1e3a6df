package graft.sinks

import org.apache.spark.sql.functions._
import org.apache.spark.sql.DataFrame
import java.nio.charset.StandardCharsets
import java.util.Base64

/** Elasticsearch upsert/delete sink — reference parity for R13/R14
  * (ElasticsearchUtils.java:101-189) with its two bugs fixed per SURVEY
  * §2.4.3–4: the bulk endpoint is `/_bulk` (reference misspells
  * `/_bluk`) and Basic auth encodes the RAW `user:pass` (reference
  * URL-encodes first, breaking passwords with reserved chars).
  *
  * Same request shapes as the reference: single record → `PUT
  * {url}/_doc/{id}` with the record body; multiple → `POST {url}/_bulk`
  * with NDJSON action/record lines; deletes mirror with DELETE /
  * `{"delete":...}` actions. Ids come from the record's `idKey` field —
  * id-keyed upserts are what make at-least-once delivery idempotent
  * (the exactly-once-effect story, SURVEY §2.3).
  *
  * Transport is injected so tests assert exact request payloads without
  * a live cluster; the default is java.net.http. Batches are built
  * per-partition (`foreachPartition`) — requests fan out from executors,
  * never through the driver.
  */
object EsSink {

  /** `maxRetries`/`backoffMs`: transient failures (connect errors, HTTP
    * 429/5xx) are retried with exponential backoff; non-2xx after the
    * last retry — or a permanent 4xx immediately — dead-letters the
    * batch instead of failing the stream (reference S6: per-event
    * failure must not stop the pipeline).
    */
  final case class Config(url: String, username: String, password: String,
      idKey: String, bulkSize: Int = 500,
      maxRetries: Int = 3, backoffMs: Long = 100L) {
    require(url.nonEmpty && idKey.nonEmpty, "url and idKey are required")
  }

  final case class Request(method: String, url: String,
      headers: Map[String, String], body: String)

  /** A record that could not be delivered: the failed request context
    * plus the id/body, as DATA (the dead-letter frame), never an
    * exception.
    */
  final case class DeadLetter(id: String, record: String, error: String)

  trait Transport extends Serializable {
    /** Returns the HTTP status; throws on transport-level failure. */
    def send(req: Request): Int

    /** GET returning (status, body) — used by the batch-progress reader
      * ([[readProgress]]). The default routes through [[send]] and
      * returns an empty body, which a reader treats as "no marker":
      * custom test transports that never override this simply apply
      * every batch (the pre-marker behavior), never break.
      */
    def get(url: String, headers: Map[String, String]): (Int, String) =
      (send(Request("GET", url, headers, "")), "")
  }

  /** Default transport: blocking java.net.http per executor. */
  final class HttpTransport extends Transport {
    @transient private lazy val client = java.net.http.HttpClient.newHttpClient()
    def send(req: Request): Int = {
      val b = java.net.http.HttpRequest.newBuilder(java.net.URI.create(req.url))
        .method(req.method,
          java.net.http.HttpRequest.BodyPublishers.ofString(req.body))
      req.headers.foreach { case (k, v) => b.header(k, v) }
      client.send(b.build(),
        java.net.http.HttpResponse.BodyHandlers.discarding()).statusCode()
    }
    override def get(url: String,
        headers: Map[String, String]): (Int, String) = {
      val b = java.net.http.HttpRequest.newBuilder(java.net.URI.create(url)).GET()
      headers.foreach { case (k, v) => b.header(k, v) }
      val resp = client.send(b.build(),
        java.net.http.HttpResponse.BodyHandlers.ofString())
      (resp.statusCode(), resp.body())
    }
  }

  /** FILE-BACKED document-store transport: applies the same keyed
    * request shapes [[HttpTransport]] sends (single PUT/DELETE `_doc`,
    * NDJSON `POST /_bulk`) to a local directory — one `<encoded-id>
    * .json` file per document, atomic replace per write. This is the
    * durable serving-store stand-in that puts an ES-target pipeline
    * under the DuckDB correctness gate (q140) and lets any ES conf run
    * without a cluster: the directory IS what an external reader sees,
    * it survives JVM restarts (a checkpoint-replayed batch sends
    * nothing, so the store must outlive the sender — an in-memory
    * recorder cannot), and the in-band `_graft_progress_` marker
    * documents land in it exactly as they would in a real index (the
    * read side filters the reserved prefix, the documented consumer
    * contract). Ids arrive path-encoded in `_doc` URLs and raw in bulk
    * action lines; both funnel through the same encoded filename.
    */
  final class FileDocStore(dir: String) extends Transport {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    // every doc file lands in the ONE flat store dir (ids arrive
    // path-encoded, so getParent is always `dir`) — create it once per
    // (de)serialized instance instead of stat'ing it per put: a
    // 300k-doc drive is metadata-syscall-bound (open/rename), and the
    // per-put createDirectories round-trip was a third of its syscalls
    @transient private lazy val ready: java.nio.file.Path =
      Files.createDirectories(Paths.get(dir))
    private def fileOf(encodedId: String) =
      Paths.get(dir, s"$encodedId.json")
    private def put(encodedId: String, body: String): Unit = {
      ready
      val f = fileOf(encodedId)
      val tmp = f.resolveSibling(
        s"${f.getFileName}.tmp.${java.util.UUID.randomUUID()}")
      val bytes = body.getBytes(StandardCharsets.UTF_8)
      // the dir was removed from outside after `ready` created it (an
      // operator wipe mid-drive): re-create it once and retry, instead
      // of failing every later put of this instance
      try Files.write(tmp, bytes)
      catch {
        case _: java.nio.file.NoSuchFileException =>
          Files.createDirectories(Paths.get(dir))
          Files.write(tmp, bytes)
      }
      Files.move(tmp, f, StandardCopyOption.REPLACE_EXISTING,
        StandardCopyOption.ATOMIC_MOVE)
      ()
    }
    private def encodedIdOf(url: String): Option[String] = {
      val i = url.indexOf("/_doc/")
      if (i < 0) None else Some(url.substring(i + "/_doc/".length))
    }
    def send(req: Request): Int = req.method match {
      case "PUT" => encodedIdOf(req.url) match {
        case Some(id) => put(id, req.body); 200
        case None => 400
      }
      case "DELETE" => encodedIdOf(req.url) match {
        case Some(id) => Files.deleteIfExists(fileOf(id)); 200
        case None => 400
      }
      case "POST" if req.url.endsWith("/_bulk") =>
        val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
        val lines = req.body.split("\n").filter(_.nonEmpty)
        var i = 0
        while (i < lines.length) {
          val action = mapper.readTree(lines(i))
          if (action.has("index") && i + 1 < lines.length) {
            put(pathEncode(action.get("index").get("_id").asText()),
              lines(i + 1))
            i += 2
          } else if (action.has("delete")) {
            Files.deleteIfExists(
              fileOf(pathEncode(action.get("delete").get("_id").asText())))
            i += 1
          } else i += 1
        }
        200
      case _ => 400
    }
    override def get(url: String,
        headers: Map[String, String]): (Int, String) =
      encodedIdOf(url).map(fileOf).filter(Files.exists(_)) match {
        case Some(f) =>
          val body = new String(Files.readAllBytes(f), StandardCharsets.UTF_8)
          (200, s"""{"found":true,"_source":$body}""")
        case None => (404, "")
      }
  }

  /** Send with retry/backoff. Returns None on success, or the final
    * error description after a permanent failure / exhausted retries.
    */
  private[sinks] def sendWithRetry(transport: Transport, req: Request,
      maxRetries: Int, backoffMs: Long): Option[String] = {
    var attempt = 0
    while (true) {
      val outcome: Either[String, Option[String]] =
        try {
          val status = transport.send(req)
          if (status / 100 == 2) Right(None)
          else if (status == 429 || status / 100 == 5) Left(s"HTTP $status")
          else Right(Some(s"HTTP $status")) // permanent 4xx: no retry
        } catch {
          case e: Exception => Left(e.toString)
        }
      outcome match {
        case Right(res) => return res
        case Left(err) if attempt >= maxRetries =>
          return Some(s"$err after ${attempt + 1} attempts")
        case Left(_) =>
          Thread.sleep(backoffMs << attempt)
          attempt += 1
      }
    }
    None // unreachable
  }

  /** JSON string escape for ids interpolated into NDJSON action lines. */
  private[sinks] def jsonEscape(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }

  /** Percent-encoding for ids used as URL path segments. */
  private[sinks] def pathEncode(s: String): String =
    java.net.URLEncoder.encode(s, StandardCharsets.UTF_8).replace("+", "%20")

  /** Raw `user:pass` Base64 — NOT URL-encoded (reference bug 2.4.4). */
  def basicAuth(user: String, pass: String): String =
    "Basic " + Base64.getEncoder.encodeToString(
      s"$user:$pass".getBytes(StandardCharsets.UTF_8))

  private def headers(cfg: Config): Map[String, String] = Map(
    "Content-Type" -> "application/json",
    "Authorization" -> basicAuth(cfg.username, cfg.password))

  /** NDJSON bulk-upsert body for (id, recordJson) pairs. Ids are JSON-
    * escaped: the sink is generic, and a string id with a quote or
    * backslash would otherwise corrupt the action line.
    */
  def bulkUpsertBody(records: Seq[(String, String)]): String =
    records.map { case (id, json) =>
      s"""{"index":{"_id":"${jsonEscape(id)}"}}""" + "\n" + json
    }.mkString("", "\n", "\n")

  /** NDJSON bulk-delete body for ids. */
  def bulkDeleteBody(ids: Seq[String]): String =
    ids.map(id => s"""{"delete":{"_id":"${jsonEscape(id)}"}}""").mkString("", "\n", "\n")

  /** Requests for one batch of (id, recordJson): single → PUT _doc/{id}
    * (id percent-encoded as a path segment), multiple → chunked POST
    * _bulk (mirrors the reference's single/bulk split at
    * ElasticsearchUtils.java:134-152).
    */
  def upsertRequests(cfg: Config, records: Seq[(String, String)]): Seq[Request] =
    records match {
      case Seq((id, json)) =>
        Seq(Request("PUT", s"${cfg.url}/_doc/${pathEncode(id)}", headers(cfg), json))
      case rs => rs.grouped(cfg.bulkSize).map(chunk =>
        Request("POST", s"${cfg.url}/_bulk", headers(cfg),
          bulkUpsertBody(chunk))).toSeq
    }

  def deleteRequests(cfg: Config, ids: Seq[String]): Seq[Request] =
    ids match {
      case Seq(id) =>
        Seq(Request("DELETE", s"${cfg.url}/_doc/${pathEncode(id)}", headers(cfg), ""))
      case is => is.grouped(cfg.bulkSize).map(chunk =>
        Request("POST", s"${cfg.url}/_bulk", headers(cfg),
          bulkDeleteBody(chunk))).toSeq
    }

  /** Upsert every row of `df`; the id is `cfg.idKey`'s value.
    *
    * EAGER: sends happen before this returns. The returned frame holds
    * the records that could not be delivered after retries (chunk
    * granularity for bulk requests) — persist it as the dead-letter
    * channel; it is already materialized (localCheckpoint), so reading
    * it never re-sends.
    */
  def upsert(df: DataFrame, cfg: Config, transport: Transport): DataFrame =
    send(df.select(col(cfg.idKey).cast("string").as("_id"),
      to_json(struct(df.columns.toSeq.map(col): _*)).as("_json")),
      cfg, transport, upsertRequests)

  /** Delete by id for every row of `df`. Same eager dead-letter contract
    * as [[upsert]] (record = null for deletes).
    */
  def delete(df: DataFrame, cfg: Config, transport: Transport): DataFrame =
    send(df.select(col(cfg.idKey).cast("string").as("_id"),
      lit(null).cast("string").as("_json")),
      cfg, transport, (c, chunk) => deleteRequests(c, chunk.map(_._1)))

  /** The one send loop: (`_id`, `_json`) pairs grouped per partition
    * into `bulkSize` chunks, each chunk's requests sent with retry, and
    * every record of a failed request returned as a [[DeadLetter]].
    */
  private def send(pairs: DataFrame, cfg: Config, transport: Transport,
      requests: (Config, Seq[(String, String)]) => Seq[Request]): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._
    val dead = pairs.as[(String, String)].mapPartitions { it =>
      it.grouped(cfg.bulkSize).flatMap { chunk =>
        requests(cfg, chunk).flatMap { req =>
          sendWithRetry(transport, req, cfg.maxRetries, cfg.backoffMs) match {
            case None => Nil
            case Some(err) => chunk.map { case (id, json) => DeadLetter(id, json, err) }
          }
        }
      }
    }
    dead.toDF().localCheckpoint(true)
  }

  /** Batch-progress marker URL: one `_graft_progress_<pipeline>`
    * document per pipeline in the target index. IN-BAND by design:
    * ES has no cross-index transactions, so a marker in a separate
    * index could not be causally tied to the data it certifies — the
    * reserved `_graft_progress_` id prefix is the contract consumers
    * filter on (the same in-band-control trade Kafka makes with
    * __consumer_offsets); an external reader that must never see it
    * excludes the prefix in its query.
    */
  def progressUrl(cfg: Config, pipeline: String): String =
    s"${cfg.url}/_doc/${pathEncode(s"_graft_progress_$pipeline")}"

  /** The last batch id whose effects are fully in the store, read from
    * the pipeline's `_graft_progress` document. Absent/unreadable →
    * None (apply the batch — at-least-once; id-keyed idempotence still
    * guarantees exactly-once EFFECT, the marker only saves the re-send).
    */
  def readProgress(cfg: Config, transport: Transport,
      pipeline: String): Option[Long] =
    try {
      val (status, body) = transport.get(progressUrl(cfg, pipeline), headers(cfg))
      if (status != 200 || body.isEmpty) None
      else {
        val b = new com.fasterxml.jackson.databind.ObjectMapper()
          .readTree(body).path("_source").path("batch_id")
        if (b.isNumber) Some(b.asLong()) else None
      }
    } catch { case _: Exception => None }

  /** Publish the progress marker for (pipeline, batchId) — written
    * AFTER the batch's documents, so marker-present implies
    * effects-present. A failed marker write is swallowed: the worst
    * case is one redundant (idempotent) re-send on the next replay.
    */
  def writeProgress(cfg: Config, transport: Transport, pipeline: String,
      batchId: Long): Unit = {
    sendWithRetry(transport,
      Request("PUT", progressUrl(cfg, pipeline), headers(cfg),
        s"""{"pipeline":"${jsonEscape(pipeline)}","batch_id":$batchId}"""),
      cfg.maxRetries, cfg.backoffMs)
    ()
  }

  /** One serving micro-batch under the progress protocol — the ES
    * analog of [[JdbcSink]]'s in-transaction batch marker
    * (exactly-once effect AND no whole-batch re-sends on checkpoint
    * replay): if the store's `marker` already covers `batchId`, the
    * replayed batch sends NOTHING; otherwise deletes land first, then
    * upserts (the key-move contract), then `onDeadLetters`, then the
    * marker. Returns the (delete, upsert) dead-letter frames, or None
    * when skipped. A `marker` of None sends marker-free: no progress
    * read or write, every call sends (re-sends stay idempotent, being
    * id-keyed) — for callers without a checkpoint identity.
    *
    * `onDeadLetters` is the caller's persistence hook and runs BEFORE
    * the marker publishes: once the marker covers a batch, a replay
    * sends nothing and can never regenerate its dead letters — a crash
    * between the marker write and a post-hoc persist would lose
    * undeliverable rows permanently, breaking the S6 "failures are
    * data" contract. A hook that itself throws leaves the marker
    * unwritten, so the replay re-sends (idempotent) and re-persists.
    */
  def applyKeyedBatch(marker: Option[String], batchId: Long,
      deletes: DataFrame, upserts: DataFrame, cfg: Config,
      transport: Transport,
      onDeadLetters: (DataFrame, DataFrame) => Unit = (_, _) => ())
      : Option[(DataFrame, DataFrame)] =
    if (marker.exists(readProgress(cfg, transport, _).exists(_ >= batchId)))
      None
    else {
      val dlDeletes = delete(deletes, cfg, transport)
      val dlUpserts = upsert(upserts, cfg, transport)
      onDeadLetters(dlDeletes, dlUpserts)
      marker.foreach(writeProgress(cfg, transport, _, batchId))
      Some((dlDeletes, dlUpserts))
    }
}
