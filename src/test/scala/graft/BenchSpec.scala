package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench artifact's per-row `jvm` telemetry: every field parses as a
  * number, and an unreadable steal counter marks the row, never a rep.
  */
class BenchSpec extends AnyFunSuite {
  import Bench.RowStats

  private val Field =
    """gc_ms=(\d+) uptime_s=(\d+) task_s=(-?\d+\.\d) peak_mb=(\d+) store_mb=(\d+) steal_s=(-?\d+\.\d)""".r

  test("jvm field: one decimal for task_s and steal_s, all fields numeric") {
    val row = RowStats()
      .plusRep(gc = 12, task = 1500, peak = 3L << 20, steal0 = 100, steal1 = 250)
      .plusRep(gc = 3, task = 2600, peak = 5L << 20, steal0 = 300, steal1 = 310)
    val Field(gc, up, task, peak, store, steal) = row.render(uptimeS = 42, storeMb = 7)
    assert((gc, up, task, peak, store, steal) ===
      (("15", "42", "4.1", "5", "7", "1.6")))
  }

  test("jvm field: any unreadable steal snapshot renders the row's steal_s=-1.0") {
    val ok = RowStats().plusRep(0, 0, 0, steal0 = 100, steal1 = 200)
    for (bad <- Seq(ok.plusRep(0, 0, 0, -1, -1), ok.plusRep(0, 0, 0, 100, -1),
        RowStats().plusRep(0, 0, 0, -1, 50).plusRep(0, 0, 0, 100, 200))) {
      val rendered = bad.render(0, 0)
      assert(rendered.endsWith(" steal_s=-1.0"), rendered)
      assert(Field.matches(rendered), rendered)
    }
  }
}
