package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("percentile interpolates between ranks and carries its sample count") {
    val xs = Seq(10.0, 20.0, 30.0, 40.0, 50.0)
    assert(Stats.percentile(xs, 50) == Stats.Pct(50, 30.0, 5, 2))
    assert(Stats.percentile(xs, 25).value == 20.0)
    assert(Stats.percentile(xs, 90).value == 46.0)
    assert(Stats.percentile(xs, 90).beyond == 0)
    assert(Stats.percentile(Seq(7.0), 90) == Stats.Pct(90, 7.0, 1, 0))
    assert(Stats.median(Seq(3.0, 1.0, 2.0, 4.0)) == 2.5)
  }

  test("percentile ignores input order") {
    val xs = (1 to 101).map(_.toDouble)
    assert(Stats.percentile(scala.util.Random.shuffle(xs), 90) == Stats.percentile(xs, 90))
    assert(Stats.percentile(xs, 90) == Stats.Pct(90, 91.0, 101, 10))
  }

  test("beyond counts the samples above the percentile's rank") {
    val xs = (1 to 12).map(_.toDouble)
    assert(Stats.percentile(xs, 90).beyond == 1) // a p90 over 12 samples rests on one
    assert(Stats.percentile(xs, 50).beyond == 5)
    assert(Stats.percentile((1 to 101).map(_.toDouble), 90).beyond == 10)
  }

  test("no samples is an error, not a number") {
    intercept[IllegalArgumentException](Stats.percentile(Nil, 50))
  }
}

class TraceSpec extends AnyFunSuite {

  private def span(id: Long, parent: Long, layer: String, s: Long, e: Long) =
    Span(id, parent, 1, s"s$id", layer, s, e)

  test("union length merges overlaps and clips to the window") {
    assert(Trace.unionLength(Nil, 0, 100) == 0)
    assert(Trace.unionLength(Seq((10L, 20L), (15L, 30L), (40L, 50L)), 0, 100) == 30)
    assert(Trace.unionLength(Seq((10L, 20L), (12L, 18L)), 0, 100) == 10)
    assert(Trace.unionLength(Seq((-10L, 20L), (90L, 150L)), 0, 100) == 30)
    assert(Trace.unionLength(Seq((200L, 300L)), 0, 100) == 0)
  }

  test("self time is duration minus the part children cover") {
    val spans = Seq(
      span(1, 0, "bench", 0, 100),
      span(2, 1, "operators", 10, 90),
      span(3, 2, "spark", 20, 50),
      span(4, 2, "spark", 40, 70), // overlaps 3: covered 20..70
      span(5, 3, "spark.stage", 25, 45))
    val self = Trace.selfTimes(spans)
    assert(self == Map(1L -> 20L, 2L -> 30L, 3L -> 10L, 4L -> 30L, 5L -> 20L))
    assert(Trace.layerSelfUs(spans) ==
      Map("bench" -> 20L, "operators" -> 30L, "spark" -> 40L, "spark.stage" -> 20L))
    // self times of a tree add up to the root's duration when children nest
    assert(Trace.selfTimes(spans.filterNot(_.id == 4)).values.sum == 100)
  }

  test("a child running past its parent only counts inside the parent") {
    val self = Trace.selfTimes(Seq(span(1, 0, "a", 0, 10), span(2, 1, "b", 5, 30)))
    assert(self(1) == 5 && self(2) == 25)
  }

  test("nested spans share a trace; a new root starts a new one") {
    var groups = List.empty[Option[String]]
    val t = new Tracer(true, g => groups ::= g)
    t.span("root", "bench")(t.span("child", "operators")(()))
    t.span("root2", "bench")(())
    val byName = t.spans.map(s => s.name -> s).toMap
    assert(byName("child").parent == byName("root").id)
    assert(byName("child").trace == byName("root").trace)
    assert(byName("root").parent == 0 && byName("root2").trace != byName("root").trace)
    assert(groups.head.isEmpty) // the job group is cleared once no span is open
    assert(JobGroup.parse(groups.reverse.head.get) == Some((byName("root").id, byName("root").trace)))
  }

  test("an inactive or disabled tracer records nothing") {
    val off = new Tracer(false)
    assert(off.span("x", "bench")(42) == 42 && off.spans.isEmpty)
    val paused = new Tracer(true)
    paused.active = false
    paused.span("x", "bench")(())
    assert(paused.spans.isEmpty)
  }

  test("job groups not written by the tracer are ignored") {
    assert(JobGroup.parse(null).isEmpty)
    assert(JobGroup.parse("etl-nightly").isEmpty)
    assert(JobGroup.parse("span:7:3") == Some((7L, 3L)))
  }
}
