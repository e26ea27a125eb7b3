package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.streaming.StreamingTrend.TrendEv

/** The arrival-order fold in plain Scala, no Spark: events apply in
  * (ts, event_id) order, and an event at or before the state's mark —
  * a re-delivery or a straggler — changes nothing and emits nothing.
  * Then the idle protocol in a stream: a batch that applied nothing
  * keeps the key's timeout.
  */
class ArrivalOrderSpec extends AnyFunSuite with TestSpark {

  private final case class Ev(ts: Timestamp, event_id: Long, tag: String)
      extends ArrivalOrder.Event
  /** The applied tags in order, and the mark. */
  private final case class St(lastT: Long, lastId: Long, tags: Vector[String])

  private def ev(ms: Long, id: Long) = Ev(new Timestamp(ms), id, s"$ms/$id")

  /** Fold `evs` into `st` in `unit`; the tags `step` saw (the seed's
    * included). */
  private def fold(st: St, evs: Seq[Ev],
      unit: Long => Long = ArrivalOrder.Ms): St =
    ArrivalOrder.fold(st, evs.iterator, unit, (s: St) => (s.lastT, s.lastId))(
      (e, t) => St(t, e.event_id, Vector(e.tag))) { (s, e, t) =>
      St(t, e.event_id, s.tags :+ e.tag)
    }

  test("unsorted input applies in ts order; the first event seeds") {
    val st = fold(null, Seq(ev(3000, 1), ev(1000, 9), ev(2000, 5)))
    assert(st == St(3000, 1, Vector("1000/9", "2000/5", "3000/1")))
  }

  test("equal ts order by event_id") {
    val st = fold(null, Seq(ev(1000, 7), ev(1000, 2), ev(1000, 4)))
    assert(st.tags == Vector("1000/2", "1000/4", "1000/7"))
    assert((st.lastT, st.lastId) == (1000L, 7L))
  }

  test("re-delivered applied events change nothing: the same state back") {
    val st = fold(null, Seq(ev(1000, 1), ev(2000, 2)))
    assert(fold(st, Seq(ev(2000, 2), ev(1000, 1))) eq st)
    // and only the new event of a mixed re-delivery applies
    assert(fold(st, Seq(ev(2000, 2), ev(2000, 3))).tags ==
      st.tags :+ "2000/3")
  }

  test("a straggler before the mark is skipped, later events apply") {
    val st = fold(null, Seq(ev(5000, 5)))
    val next = fold(st, Seq(ev(4000, 9), ev(5000, 4), ev(6000, 1)))
    assert(next.tags == Vector("5000/5", "6000/1"))
  }

  test("a mark in floor-seconds: the same second orders by event_id") {
    val st = fold(null, Seq(ev(1999, 3)), ArrivalOrder.Seconds)
    assert((st.lastT, st.lastId) == (1L, 3L))
    // 1.5 s floors to the mark's second: applies only past its id
    val next = fold(st, Seq(ev(1500, 2), ev(1500, 4), ev(-1, 9)),
      ArrivalOrder.Seconds)
    assert(next.tags == Vector("1999/3", "1500/4"))
    assert((next.lastT, next.lastId) == (1L, 4L))
  }

  test("idle protocol: a batch that applies nothing keeps the key's " +
      "timeout, so the key still evicts") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def ts(min: Long) = new Timestamp(1700000000000L + min * 60000L)
    val stream = MemoryStream[TrendEv]
    val query = StreamingTrend
      .levelsEvicting(stream.toDS().withWatermark("ts", "10 minutes"),
        0.5, idleMs = 3L * 60 * 1000)
      .writeStream.format("memory").queryName("arrival_idle")
      .outputMode("append").start()
    try {
      stream.addData(TrendEv(1L, ts(1), 1L, 2.0), TrendEv(1L, ts(2), 2L, 4.0))
      query.processAllAvailable()
      // user 1's last event again: a re-delivery, applied nothing (the
      // watermark delay keeps it from being dropped as late data)
      stream.addData(TrendEv(1L, ts(2), 2L, 4.0))
      query.processAllAvailable()
      // user 9 moves the watermark past user 1's mark + idleMs
      stream.addData(TrendEv(9L, ts(30), 9L, 1.0))
      query.processAllAvailable()
      stream.addData(TrendEv(9L, ts(31), 10L, 1.0))
      query.processAllAvailable()
      val rows = spark.table("arrival_idle").collect()
        .map(r => (r.getLong(0), r.getLong(1), Option(r.getString(3))))
      assert(rows.count(_._3.contains("idle")) == 1 &&
        rows.contains((1L, 2L, Some("idle"))), s"got ${rows.toSeq}")
      // the re-delivery emitted no second snapshot
      assert(rows.count(r => r._1 == 1L && r._3.isEmpty) == 1,
        s"got ${rows.toSeq}")
    } finally query.stop()
  }
}
