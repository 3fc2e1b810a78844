package perfbench

import java.nio.file.{Files, Paths}

/** Host CPU accounting from /proc: steal time, and the CPU other
  * processes used while this one ran, so a noisy-neighbour run can be
  * told apart from a slow program. */
object HostStat {
  /** Jiffies from the aggregate `cpu` line of /proc/stat. */
  final case class Cpu(total: Long, idle: Long, steal: Long) {
    def busy: Long = total - idle - steal
  }

  /** Parses the aggregate `cpu` line: user nice system idle iowait irq
    * softirq steal [guest guest_nice]. guest time is already inside
    * user and nice, so it is not added again; idle includes iowait. */
  def parseCpu(procStat: String): Cpu = {
    val line = procStat.linesIterator.find(_.startsWith("cpu "))
      .getOrElse(throw new IllegalArgumentException("no aggregate cpu line"))
    val f = line.trim.split("\\s+").drop(1).map(_.toLong)
    require(f.length >= 4, s"short cpu line: $line")
    val at = (i: Int) => if (i < f.length) f(i) else 0L
    Cpu(total = (0 to 7).map(at).sum, idle = at(3) + at(4), steal = at(7))
  }

  /** utime + stime of a process, in jiffies, from /proc/<pid>/stat. The
    * command field may hold spaces and parentheses, so fields are
    * counted from the last ')'. */
  def parseProcCpu(pidStat: String): Long = {
    val f = pidStat.substring(pidStat.lastIndexOf(')') + 2).trim.split("\\s+")
    f(11).toLong + f(12).toLong
  }

  final case class Sample(cpu: Cpu, own: Long)

  def sample(): Sample = Sample(
    parseCpu(Files.readString(Paths.get("/proc/stat"))),
    parseProcCpu(Files.readString(Paths.get("/proc/self/stat"))))

  /** (steal fraction, other-process CPU fraction) of all CPU time. */
  def fractions(a: Sample, b: Sample): (Double, Double) = {
    val dt = (b.cpu.total - a.cpu.total).toDouble
    if (dt <= 0) (0.0, 0.0)
    else {
      val other = (b.cpu.busy - a.cpu.busy) - (b.own - a.own)
      ((b.cpu.steal - a.cpu.steal) / dt, math.max(0L, other) / dt)
    }
  }
}
