package graftbench

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The harness arithmetic the metrics rest on: percentiles and their
  * sample counts, the interval union behind `driver_gap_s`, and the
  * crediting of Spark jobs to the span that launched them. */
class HarnessSpec extends AnyFunSuite {

  test("median and nearest-rank percentile with the samples beyond it") {
    val xs = (1 to 100).map(_.toDouble).reverse
    assert(Stats.median(xs) == 50.5)
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.percentile(xs, 90) == ((90.0, 10)))
    assert(Stats.percentile(xs, 99) == ((99.0, 1)))
    assert(Stats.percentile(Seq(7.0), 50) == ((7.0, 0)))
  }

  test("tail is the highest percentile with ten samples beyond it") {
    assert(Stats.tail((1 to 100).map(_.toDouble)) == Some(Stats.Tail(90.0, 90.0, 10)))
    assert(Stats.tail((1 to 1000).map(_.toDouble)) == Some(Stats.Tail(99.0, 990.0, 10)))
    // 30 samples: p75 leaves 7 beyond, p50 leaves 15
    assert(Stats.tail((1 to 30).map(_.toDouble)) == Some(Stats.Tail(50.0, 15.0, 15)))
    assert(Stats.tail((1 to 19).map(_.toDouble)).isEmpty)
  }

  test("covered time counts overlapping jobs once and clips to the span") {
    import Tracer.coveredMs
    assert(coveredMs(Nil, 0, 100) == 0.0)
    assert(coveredMs(Seq((10L, 20L), (30L, 40L)), 0, 100) == 20.0)
    assert(coveredMs(Seq((10L, 30L), (20L, 40L)), 0, 100) == 30.0)
    assert(coveredMs(Seq((10L, 50L), (20L, 30L)), 0, 100) == 40.0)
    assert(coveredMs(Seq((30L, 40L), (10L, 20L), (15L, 35L)), 0, 100) == 30.0)
    assert(coveredMs(Seq((0L, 50L), (90L, 200L)), 20, 100) == 40.0)
    assert(coveredMs(Seq((0L, 10L)), 20, 100) == 0.0)
  }

  test("jobs are credited to every span open on the thread that launched them") {
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.ui.enabled", "false").getOrCreate()
    try {
      val sc = spark.sparkContext
      sc.setLogLevel("WARN")
      val t = new Tracer
      sc.addSparkListener(t)
      spark.range(10).count() // outside any span: not credited
      t.span(sc, "outer") {
        t.span(sc, "inner")(spark.range(100).count())
        spark.range(100).count()
      }
      org.apache.spark.ListenerBusDrain(sc)
      sc.removeSparkListener(t)

      // a count can take more than one job; each is credited by its path
      val paths = t.jobSpans.values.toSeq
      assert(paths.toSet == Set("outer", "outer/inner"))
      val s = t.summary()
      assert(s("outer.calls") == 1.0 && s("inner.calls") == 1.0)
      assert(s("outer.jobs") == paths.size)
      assert(s("inner.jobs") == paths.count(_ == "outer/inner"))
      assert(s("outer.tasks") >= s("inner.tasks") && s("inner.tasks") > 0)
      assert(s("outer.wall_s") >= s("inner.wall_s"))
      assert(s("outer.driver_gap_s") >= 0 && s("outer.driver_gap_s") <= s("outer.wall_s"))
      assert(sc.getLocalProperty(Tracer.SpanProperty) == null)
    } finally spark.stop()
  }
}
