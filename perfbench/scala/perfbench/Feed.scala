package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.SplittableRandom
import scala.collection.mutable

/** Seeded change-feed generator for the serving workload.
  *
  * The wire format is the one the graft-cdc source reads: JSON lines of
  * `{"value": <Debezium envelope as a JSON string>, "offset": <long>}`.
  * Every served row carries `seq`, the offset of the event that wrote
  * it, so a served document names the event it reflects. Same seed,
  * same bytes.
  */
object Feed {
  val Db = "shop"
  val T0 = 1700000000000L

  val OrdersSchemaDdl: String =
    "o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, " +
      "o_totalprice DOUBLE, o_orderpriority STRING, seq BIGINT"
  val CustomerSchemaDdl: String = "c_custkey BIGINT, c_name STRING, c_seq BIGINT"

  private val Statuses = Array("O", "F", "P")
  private val Priorities =
    Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")

  def price(cents: Long): String = f"${cents / 100}%d.${cents % 100}%02d"

  def orderRow(key: Long, cust: Long, status: String, cents: Long,
      prio: String, seq: Long): String =
    s"""{"o_orderkey":$key,"o_custkey":$cust,"o_orderstatus":"$status",""" +
      s""""o_totalprice":${price(cents)},"o_orderpriority":"$prio","seq":$seq}"""

  def customerRow(key: Long, name: String, seq: Long): String =
    s"""{"c_custkey":$key,"c_name":"$name","c_seq":$seq}"""

  def payload(op: String, table: String, after: String, tsMs: Long): String =
    s"""{"before":null,"after":$after,"op":"$op","ts_ms":$tsMs,""" +
      s""""source":{"db":"$Db","table":"$table","ts_ms":$tsMs}}"""

  def envelope(p: String, wrapped: Boolean, table: String): String =
    if (wrapped)
      s"""{"schema":{"type":"struct","name":"$Db.$table.Envelope"},"payload":$p}"""
    else p

  def jsonString(s: String): String = {
    val sb = new StringBuilder(s.length + 16).append('"')
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }

  def line(value: String, offset: Long): String =
    s"""{"value":${jsonString(value)},"offset":$offset}"""

  /** Publish `lines` as `dir/name` atomically: write a dot-prefixed
    * temp file (the source skips dot-files), then rename.
    */
  def publish(dir: Path, name: String, lines: Array[String]): Unit = {
    val tmp = dir.resolve("." + name + ".tmp")
    Files.write(tmp, lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, dir.resolve(name), StandardCopyOption.ATOMIC_MOVE)
  }

  /** Live-traffic generator for the serving workload: a hot set of
    * orders keys updated many times per trigger interval, a fixed share
    * of those updates moving the order to another customer, and a fixed
    * share of customer renames that change every joined view row of that
    * customer. Class counts per file are exact, so the work does not
    * depend on the seed; the seed picks keys, values, envelope forms
    * and the order within a file. Tracks the last state per key for the
    * final check.
    */
  final class Traffic(seed: Long, val hotKeys: Int, val customers: Int,
      custShare: Double, moveShare: Double) {
    private val rng = new SplittableRandom(seed)
    private var off = 0L
    val lastSeq = new Array[Long](hotKeys + 1)
    val custOf = new Array[Long](hotKeys + 1)
    val custName = new Array[String](customers + 1)

    private def nextOffset(): Long = { off += 1; off }

    private def orderEvent(k: Int, op: String, move: Boolean): String = {
      val o = nextOffset()
      if (move) custOf(k) = 1 + rng.nextInt(customers)
      lastSeq(k) = o
      val row = orderRow(k, custOf(k), Statuses(rng.nextInt(3)),
        100000L + rng.nextInt(50000000), Priorities(rng.nextInt(5)), o)
      line(envelope(payload(op, "orders", row, T0 + o), rng.nextBoolean(), "orders"), o)
    }

    private def customerEvent(c: Int, op: String): String = {
      val o = nextOffset()
      custName(c) = s"Customer#$c-$o"
      line(envelope(payload(op, "customer", customerRow(c, custName(c), o), T0 + o),
        rng.nextBoolean(), "customer"), o)
    }

    /** The initial state: every customer, then every hot order. */
    def snapshot(): Array[String] =
      ((1 to customers).map(customerEvent(_, "r")) ++
        (1 to hotKeys).map(orderEvent(_, "r", move = true))).toArray

    /** Event classes of one file of `n` events, in seeded order:
      * `Rename`, `Move` (an order update that changes its customer) or
      * `Update`, in fixed counts.
      */
    def classes(n: Int): Array[Int] = {
      val renames = math.round(n * custShare).toInt
      val moves = math.round((n - renames) * moveShare).toInt
      val c = Array.fill(renames)(Traffic.Rename) ++ Array.fill(moves)(Traffic.Move) ++
        Array.fill(n - renames - moves)(Traffic.Update)
      var i = c.length - 1
      while (i > 0) { // Fisher-Yates
        val j = rng.nextInt(i + 1)
        val t = c(i); c(i) = c(j); c(j) = t
        i -= 1
      }
      c
    }

    /** One feed file of `n` events; `orders` receives (key, seq) of each
      * order event in it.
      */
    def nextFile(n: Int, orders: mutable.ArrayBuilder.ofLong): Array[String] =
      classes(n).map {
        case Traffic.Rename => customerEvent(1 + rng.nextInt(customers), "u")
        case cls =>
          val k = 1 + rng.nextInt(hotKeys)
          val l = orderEvent(k, "u", move = cls == Traffic.Move)
          orders += k; orders += lastSeq(k)
          l
      }

    /** Publish instants, as offsets into a span, of `n` files: a Poisson
      * process conditioned on its count (sorted uniform draws). The
      * arrival phase is seeded; the load in the span is fixed.
      */
    def arrivals(n: Int, spanNanos: Long): Array[Long] =
      Array.fill(n)((rng.nextDouble() * spanNanos).toLong).sorted
  }

  object Traffic {
    final val Update = 0
    final val Move = 1
    final val Rename = 2
  }
}
