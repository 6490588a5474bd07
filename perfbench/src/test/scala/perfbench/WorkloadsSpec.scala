package perfbench

import java.nio.file.Paths

import org.scalatest.funsuite.AnyFunSuite

class WorkloadsSpec extends AnyFunSuite {
  private val names = graft.SparkEntry.queries.keySet

  test("every SparkEntry.queries key belongs to exactly one workload") {
    val bad = names.toSeq.sorted.map(n => n -> Workloads.of(n)).filter(_._2.size != 1)
    assert(bad.isEmpty, bad.map { case (n, ws) => s"$n -> ${ws.mkString("[", ",", "]")}" }.mkString("; "))
  }

  test("each workload measures only its own, existing entries") {
    for ((w, wl) <- Workloads.all; entries = wl.measured) {
      assert(entries.nonEmpty, w)
      assert(entries.distinct == entries, w)
      for (e <- entries) {
        assert(names(e), s"$w measures unknown entry $e")
        assert(Workloads.of(e) == Seq(w), s"$w measures $e of ${Workloads.of(e)}")
      }
    }
  }

  test("expected_rows.json has a row count for every entry") {
    val expected = Expected.load(Paths.get("expected_rows.json"))
    assert(names.diff(expected.keySet).isEmpty, names.diff(expected.keySet).toSeq.sorted)
  }
}
