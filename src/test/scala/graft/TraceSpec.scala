package graft

import java.nio.file.Files
import org.apache.spark.sql.types._
import graft.lake.{Lake, TableDef}
import graft.obs.Trace
import graft.dag.GateArms

/** The engine's span tracer: root counts equal the old serial job
  * profile's receipts, concurrent gate arms attribute to their own
  * spans, a span outside a recording is a plain call, and a throwing
  * body leaves no span, property or listener behind. */
class TraceSpec extends SparkSpec {

  private def current: String = spark.sparkContext.getLocalProperty("graft.span")

  /** One job of one stage. */
  private def oneJob(): Long = spark.sparkContext.parallelize(1 to 4, 2).count()

  private def listenerCount: Int = {
    val sc = spark.sparkContext
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("listeners").invoke(bus)
      .asInstanceOf[java.util.List[_]].size
  }

  test("root counts equal the serial job-profile receipts of the same bodies") {
    val s = spark
    import s.implicits._
    def counts(r: (Any, graft.obs.Span)) =
      (r._2.total.jobs, r._2.total.stages, r._2.total.tasks)
    // the literals are what the serial job profile reported for each body
    // (the drain sentinel's two stages included)
    assert(counts(Trace.record(spark)(spark.range(0, 1000, 1, 4).count())) ==
      ((2, 4, 10L)))
    assert(counts(Trace.record(spark) {
      spark.range(0, 1000, 1, 4).selectExpr("id % 7 AS k")
        .groupBy("k").count().localCheckpoint().collect()
    }) == ((3, 5, 11L)))
    val lake = new Lake(spark, Files.createTempDirectory("trace-parity").toString)
    val t = TableDef("t", StructType(Seq(StructField("k", LongType),
      StructField("v", LongType))), primaryKeys = Seq("k"))
    val rows = Seq((1L, 10L), (2L, 20L), (1L, 11L)).toDF("k", "v")
    // the upsert the serial job profile measured: create + append + optimize
    val up = Trace.record(spark) {
      lake.create(t)
      lake.append(t, rows, 1L)
      lake.optimize(t)
    }
    assert(counts(up) == ((5, 7, 15L)))
    assert(up._2.children.map(c => (c.name, c.tag)) ==
      Seq(("lake.create", "t"), ("lake.append", "t"), ("lake.optimize", "t"),
        ("trace.drain", "")))
    // the merge-write upsert of the same rows: one span, one write, fewer jobs
    val merged = Trace.record(spark) {
      lake.upsert(t.copy(name = "u"), rows, 1L)
    }
    assert(counts(merged) == ((2, 4, 9L)))
    assert(merged._2.children.map(c => (c.name, c.tag)) ==
      Seq(("lake.upsert", "u"), ("trace.drain", "")))
    assert(merged._2.children.head.children.isEmpty)
  }

  test("each concurrent gate arm attributes to its own span") {
    val (_, root) = Trace.record(spark) {
      Trace.span(spark, "gate") {
        GateArms.run(Seq(
          "two" -> (() => { oneJob(); oneJob() }),
          "three" -> (() => { oneJob(); oneJob(); oneJob() })))
      }
    }
    val Seq(gate, drain) = root.children
    assert(gate.name == "gate" && gate.self.jobs == 0)
    assert(drain.name == "trace.drain" && drain.total.jobs == 0)
    assert(gate.children.map(a => a.name -> a.total.jobs).toMap ==
      Map("two" -> 2, "three" -> 3))
    assert(gate.total.jobs == 5 && root.total.jobs == 5)
  }

  test("outside a recording a span leaves the property unset and runs once") {
    var runs = 0
    val got = Trace.span(spark, "idle", "tag") {
      assert(current == null)
      runs += 1
      oneJob()
    }
    assert(got == 4L && runs == 1 && current == null)
  }

  test("a throwing body closes its spans, restores the property and " +
      "removes the listener") {
    val listeners = listenerCount
    val (_, outer) = Trace.record(spark) {
      val mine = current
      intercept[IllegalStateException] {
        Trace.span(spark, "a")(Trace.span(spark, "b") {
          oneJob()
          throw new IllegalStateException("planted")
        })
      }
      assert(current == mine)
    }
    val Seq(a, _) = outer.children
    assert(a.children.map(_.name) == Seq("b") && a.total.jobs == 1)
    assert(a.wallS >= 0 && a.children.head.wallS >= 0)
    intercept[IllegalStateException] {
      Trace.record(spark) {
        Trace.span(spark, "c") { oneJob(); throw new IllegalStateException("x") }
      }
    }
    assert(current == null)
    assert(listenerCount == listeners)
    oneJob()
    val (_, later) = Trace.record(spark)(oneJob())
    assert(later.total.jobs == 1)
  }
}
