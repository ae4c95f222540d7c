package perfbench

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite

class BenchSpec extends AnyFunSuite {
  // a disabled tracer never touches a session, so the runner needs none
  private val ctx = new Ctx(null, new Tracer(null), Files.createTempDirectory("perfbench"), "")

  private def op(n: String, body: => Long, wrong: Option[String] = None): Op = new Op {
    val name = n
    def run(ctx: Ctx, id: String): Long = body
    override def check(ctx: Ctx): Option[String] = wrong
  }

  test("a throwing op is recorded as failed, with its reason") {
    val pass = Main.runPass(ctx, Seq(op("good", 3L),
      op("bad", throw new IllegalStateException("boom"))), 1, 1)
    val Seq(good, bad) = pass.ops
    assert(good.ok && good.rows == 3L && good.error == null)
    assert(!bad.ok && bad.error.contains("IllegalStateException: boom"))
  }

  test("an op whose output check fails is recorded as failed") {
    val Seq(rec) = Main.runPass(ctx, Seq(op("wrong", 5L, Some("rows 4 != 5"))), 1, 1).ops
    assert(!rec.ok && rec.error == "rows 4 != 5")
  }

  test("self time subtracts the part of a span its children cover") {
    val spans = Seq(
      Span(1, 0, "p1:q", "op", 0, 100),
      Span(2, 1, "p1:q", "builder", 10, 40),
      Span(3, 1, "p1:q", "exec", 40, 95),
      Span(4, 2, "p1:q", "job.tables", 15, 25),
      Span(5, 3, "p1:q", "job.exec", 45, 70),
      Span(6, 3, "p1:q", "job.exec", 60, 80), // overlaps job 5
      Span(7, 3, "p1:q", "catalyst.planning", 90, 120)) // runs past its parent
    val self = Trace.selfTimes(spans)
    assert(self(1) == 100 - 85)
    assert(self(2) == 30 - 10)
    assert(self(3) == 55 - 35 - 5)
    assert(self(4) == 10 && self(7) == 30)
  }

  test("jobs are attributed by phase, refined by their call site") {
    val memo = "org.apache.spark.rdd.RDD.count(RDD.scala:1)\n" +
      "graft.ext.Dedup$.docsets(Dedup.scala:9)\ngraft.Memo$.memoized(Memo.scala:3)"
    assert(Trace.layerOf(memo, "builder") == ("memo", "graft.Memo$.memoized(Memo.scala:3)"))
    assert(Trace.layerOf("graft.Tables$.load(Tables.scala:62)", "builder")._1 == "tables")
    assert(Trace.layerOf("graft.etl.Quality$.gate(Quality.scala:1)\n" +
      "graft.etl.LoadJob$.run(LoadJob.scala:2)", "exec")._1 == "etl.gate")
    assert(Trace.layerOf("graft.etl.LoadJob$.write$1(LoadJob.scala:2)", "exec")._1 == "etl.write")
    assert(Trace.layerOf("", "exec") == ("exec", ""))
    assert(Trace.layerOf("", "") == ("other", ""))
  }

  test("the seed alone decides generated inputs and op order") {
    def files(seed: Long) = {
      val in = Workloads.etlInputs(seed, Files.createTempDirectory("etl"))
      (Seq(in.sales, in.products, in.customers) ++ in.batches.map(_._1))
        .map(p => p.getFileName.toString -> Files.readAllBytes(p).toSeq)
    }
    assert(files(7) == files(7))
    assert(files(7) != files(8))
    val ops = (1 to 20).map(i => s"q$i")
    assert(Workloads.order(7, ops) == Workloads.order(7, ops))
    assert(Workloads.order(7, ops) != Workloads.order(8, ops))
    assert(Workloads.order(7, ops).sorted == ops.sorted)
    assert(Workloads.cutPoints(7, 0, 1000, 6) == Workloads.cutPoints(7, 0, 1000, 6))
    assert(Workloads.cutPoints(7, 0, 1000, 6) != Workloads.cutPoints(8, 0, 1000, 6))
  }

  test("exactly one re-publish batch carries a violating row") {
    val in = Workloads.etlInputs(3, Files.createTempDirectory("etl"))
    assert(in.batches.count(_._3) == 1)
    in.batches.foreach { case (p, rows, bad) =>
      val lines = Files.readAllLines(p)
      assert(lines.size == rows + 1)
      assert(lines.stream().anyMatch(_.endsWith(",-1.00")) == bad)
    }
  }
}
