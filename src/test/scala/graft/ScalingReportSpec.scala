package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.util.ScalingReport
import graft.util.ScalingReport.Run

/** The best-of-per-level report the three scaling benches share. */
class ScalingReportSpec extends AnyFunSuite {

  private def run(cpus: Int, thr: Double, size: Long = 8L, key: String = "k", tag: String = "") =
    Run(cpus, size, key, thr, tag)

  test("the best throughput per level wins; N and 4N are the lowest and highest levels") {
    val runs = Seq(run(4, 90.0, tag = "4a"), run(16, 200.0, tag = "16a"), run(4, 100.0, tag = "4b"),
      run(8, 150.0, tag = "8a"), run(16, 180.0, tag = "16b"), run(4, 100.0, tag = "4c"))
    val best = ScalingReport.best(runs, 8L, "k").toOption.get
    assert(best.n.row === "4b", "ties keep the first run listed")
    assert(best.n4.row === "16a")
    assert(best.runs.map(_.row) === runs.map(_.row))
    assert(best.reps.split(", ").toSet === Set("local[4]×3", "local[8]×1", "local[16]×2"))
  }

  test("rows with another workload key or size are excluded") {
    val runs = Seq(run(4, 100.0), run(16, 200.0),
      run(4, 1000.0, key = "other"), run(16, 50.0, size = 9L), run(32, 9999.0, key = "legacy"))
    val best = ScalingReport.best(runs, 8L, "k").toOption.get
    assert((best.n.cpus, best.n.throughput) === ((4, 100.0)))
    assert((best.n4.cpus, best.n4.throughput) === ((16, 200.0)))
    assert(best.runs.size === 2)
  }

  test("a single level is refused") {
    val one = ScalingReport.best(Seq(run(16, 200.0), run(16, 210.0), run(4, 1.0, key = "x")), 8L, "k")
    assert(one.left.toOption.exists(_.contains("have 16")), one)
    assert(ScalingReport.best(Seq.empty[Run[String]], 8L, "k").isLeft)
  }

  test("efficiency = (t4N / tN) / (cpus4N / cpusN): 4 → 16 cpus") {
    val best = ScalingReport.best(Seq(run(4, 100.0), run(16, 300.0)), 8L, "k").toOption.get
    assert(best.efficiency === 0.75)
    val linear = ScalingReport.best(Seq(run(16, 400.0), run(4, 100.0)), 8L, "k").toOption.get
    assert(linear.efficiency === 1.0)
    assert(ScalingReport.fmt(best.efficiency, 3) === "0.750")
  }
}
