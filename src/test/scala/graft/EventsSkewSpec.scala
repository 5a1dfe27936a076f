package graft

import graft.operators.EventsQueries

/** The changepoint skew-window decomposition is bit-equal to the plain
  * per-type window, and the crossover between them is data-driven. */
class EventsSkewSpec extends SparkTestBase {

  test("changepoint: skew decomposition is bit-equal to the plain window") {
    val events = Tables.load(spark, Sf, "events")
    val plain = EventsQueries.changepointPlain(events).collect().map(_.toSeq).toSet
    val skew = EventsQueries.changepointSkew(events).collect().map(_.toSeq).toSet
    assert(plain.nonEmpty)
    assert(skew == plain, s"skew=$skew plain=$plain")
  }

  test("changepoint: empty input yields an empty result, not a probe crash") {
    val events = Tables.load(spark, Sf, "events")
    val empty = events.filter(org.apache.spark.sql.functions.lit(false))
    assert(EventsQueries.changepoint(empty, EventsQueries.ChangepointSortBudget,
      EventsQueries.maxPerKey(empty)).count() == 0L)
  }

  test("changepoint: per-key count probe auto-selects the branch") {
    val events = Tables.load(spark, Sf, "events")
    // a tiny budget forces the decomposition (its plan joins the chunk
    // offsets back); a huge budget keeps the join-free plain window
    val maxKnown = EventsQueries.maxPerKey(events)
    val tiny = EventsQueries.changepoint(events, 1L, maxKnown)
    val big = EventsQueries.changepoint(events, Long.MaxValue, maxKnown)
    assert(tiny.queryExecution.optimizedPlan.toString.contains("Join"))
    assert(!big.queryExecution.optimizedPlan.toString.contains("Join"))
    assert(tiny.collect().map(_.toSeq).toSet == big.collect().map(_.toSeq).toSet)
  }
}
