package perfbench

import org.scalatest.funsuite.AnyFunSuite

class HostStatSpec extends AnyFunSuite {
  private def stat(user: Long, idle: Long, steal: Long) =
    s"""cpu  $user 10 50 $idle 20 0 5 $steal 0 0
       |cpu0 1 2 3 4 5 6 7 8 9 10
       |intr 12345 0 0
       |ctxt 999
       |""".stripMargin

  test("the aggregate cpu line parses into total, idle and steal") {
    val c = HostStat.parseCpu(stat(1000, 4000, 30))
    assert(c.total == 1000 + 10 + 50 + 4000 + 20 + 0 + 5 + 30)
    assert(c.idle == 4000 + 20)
    assert(c.steal == 30)
    assert(c.busy == 1000 + 10 + 50 + 5)
  }

  test("guest columns are not counted twice, and old kernels parse") {
    val c = HostStat.parseCpu("cpu  100 0 0 900 0 0 0 7 55 66\n")
    assert(c.total == 1007)
    assert(HostStat.parseCpu("cpu  100 0 0 900\n") == HostStat.Cpu(1000, 900, 0))
  }

  test("a stat text without the aggregate line is refused") {
    assertThrows[IllegalArgumentException](HostStat.parseCpu("cpu0 1 2 3 4\n"))
  }

  test("process CPU is utime + stime, even with spaces in the command") {
    val s = "4242 (java (main) x) S 1 4242 4242 0 -1 4194560 100 0 0 0 " +
      "700 300 0 0 20 0 40 0 12345 0 0"
    assert(HostStat.parseProcCpu(s) == 1000)
  }

  test("steal and other-process fractions come from the deltas") {
    val a = HostStat.Sample(HostStat.parseCpu(stat(1000, 4000, 30)), own = 500)
    val b = HostStat.Sample(HostStat.parseCpu(stat(1600, 4300, 130)), own = 900)
    val (steal, other) = HostStat.fractions(a, b)
    assert(math.abs(steal - 100.0 / 1000) < 1e-12)
    // busy grew by 600, 400 of it this process
    assert(math.abs(other - 200.0 / 1000) < 1e-12)
    assert(HostStat.fractions(a, a) == ((0.0, 0.0)))
  }
}
