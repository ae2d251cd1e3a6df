package perfbench

import scala.collection.mutable

/** The benchmark's own checks, run with `python3 perfbench/run.py
  * --selftest`: generator determinism and class mix, and the latency
  * arithmetic on a synthetic send timeline. No Spark.
  */
object SelfTest {
  private var checks = 0
  private val failures = mutable.ArrayBuffer.empty[String]

  private def expect(name: String)(ok: => Boolean): Unit = {
    checks += 1
    val passed = try ok catch { case e: Exception => failures += s"$name: $e"; true }
    if (!passed) failures += name
  }

  /** The snapshot and `files` files of 125 events, with the order
    * (key, seq) pairs of each file.
    */
  private def traffic(seed: Long, files: Int): (Seq[String], Seq[Seq[Long]]) = {
    val t = new Feed.Traffic(seed, 16, 8, 0.03, 0.1)
    val lines = mutable.ArrayBuffer.empty[String] ++= t.snapshot()
    val orders = (1 to files).map { _ =>
      val ob = new mutable.ArrayBuilder.ofLong
      lines ++= t.nextFile(125, ob)
      ob.result().toSeq
    }
    (lines.toSeq, orders)
  }

  def main(args: Array[String]): Unit = {
    // generator: same seed → identical bytes; another seed → other bytes
    val (a, aOrders) = traffic(7L, 4)
    val (b, bOrders) = traffic(7L, 4)
    val (c, _) = traffic(8L, 4)
    expect("same seed, same bytes")(a == b && aOrders == bOrders)
    expect("other seed, other bytes")(a != c)
    expect("offsets are unique and ordered") {
      val offs = a.map(l => l.substring(l.lastIndexOf(":") + 1, l.length - 1).toLong)
      offs == (1L to offs.length.toLong)
    }
    expect("every order event is reported")(aOrders.forall(_.length == 2 * 121))
    expect("class counts do not depend on the seed") {
      val want = Seq(Feed.Traffic.Update -> 109, Feed.Traffic.Move -> 12,
        Feed.Traffic.Rename -> 4).toMap
      Seq(1L, 2L, 3L).forall { s =>
        val cls = new Feed.Traffic(s, 16, 8, 0.03, 0.1).classes(125)
        cls.groupBy(identity).map { case (k, v) => k -> v.length } == want
      }
    }
    expect("both envelope forms appear") {
      a.exists(_.contains("\\\"schema\\\"")) && a.exists(l => !l.contains("\\\"schema\\\""))
    }
    expect("arrivals are sorted and inside the span") {
      val a = new Feed.Traffic(4L, 10, 4, 0.1, 0.2).arrivals(50, 1000L)
      a.length == 50 && a.sameElements(a.sorted) && a.forall(x => x >= 0 && x < 1000)
    }
    expect("last seq per key is the key's latest order event") {
      val t = new Feed.Traffic(3L, 16, 8, 0.03, 0.1)
      t.snapshot()
      val ob = new mutable.ArrayBuilder.ofLong
      t.nextFile(125, ob)
      val last = ob.result().grouped(2).map(p => p(0) -> p(1)).toSeq
        .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).max }
      last.forall { case (k, s) => t.lastSeq(k.toInt) == s }
    }
    val t1 = new Feed.Traffic(3L, 10, 4, 0.1, 0.2)
    val t2 = new Feed.Traffic(3L, 10, 4, 0.1, 0.2)
    expect("arrivals are seeded") {
      t1.arrivals(20, 1000000L).toSeq == t2.arrivals(20, 1000000L).toSeq
    }

    // latency: first send of the key carrying seq or later
    val at = Stats.servedAt(Seq((1L, 10L, 100L), (1L, 30L, 200L), (1L, 20L, 300L),
      (2L, 5L, 150L)))
    expect("served by its own doc")(at(1L, 10L).contains(100L))
    expect("served by a later version")(at(1L, 20L).contains(200L))
    expect("stale re-send does not serve earlier")(at(1L, 30L).contains(200L))
    expect("unserved seq")(at(1L, 31L).isEmpty)
    expect("other key")(at(2L, 5L).contains(150L))
    expect("unknown key")(at(3L, 1L).isEmpty)
    expect("interpolated median")(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
    expect("p95 of 1..101")(Stats.quantile((1 to 101).map(_.toDouble), 0.95) == 96.0)

    if (failures.isEmpty) println(s"selftest ok: $checks checks")
    else {
      failures.foreach(f => System.err.println(s"selftest FAILED: $f"))
      sys.exit(1)
    }
  }
}
