package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

/** Contention witness: how busy the machine was with work other than this
  * process while the run measured, plus load averages at start and end.
  * Taken on every run, traced or not, so a slow run can be told apart from
  * a slow program. */
final class Box {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val ncpu = Box.procStat().cpus
  private var busy0, tick0 = 0L
  private var cpu0 = 0L
  private var wall0 = 0.0
  val loadStart: Double = Box.loadavg1()

  def start(): Unit = {
    val s = Box.procStat()
    busy0 = s.busy; tick0 = s.total
    cpu0 = os.getProcessCpuTime
    wall0 = Clock.nowMs
  }

  /** Busy CPU on the machine outside this process, as a share of capacity
    * (all CPUs `/proc/stat` lists) over the window since [[start]]. */
  def foreignCpuShare(): Double = {
    val s = Box.procStat()
    val ticks = (s.total - tick0).toDouble
    if (ticks <= 0) return 0.0
    val busySec = (s.busy - busy0) / Box.HZ
    val ownSec = (os.getProcessCpuTime - cpu0) / 1e9
    val capacitySec = ticks / Box.HZ
    math.max(0.0, (busySec - ownSec) / capacitySec)
  }

  def summary: Map[String, Double] = Map(
    "box.foreign_cpu_share" -> foreignCpuShare(),
    "box.cpus" -> ncpu.toDouble,
    "box.loadavg_start" -> loadStart,
    "box.loadavg_end" -> Box.loadavg1())
}

object Box {
  /** USER_HZ; 100 on every Linux this runs on. */
  val HZ = 100.0

  final case class Stat(busy: Long, total: Long, cpus: Int)

  /** Aggregate `cpu` line of /proc/stat: busy = all but idle and iowait;
    * total summed over every CPU. */
  def procStat(): Stat = {
    val lines = Files.readAllLines(Paths.get("/proc/stat")).asScala
    val f = lines.find(_.startsWith("cpu ")).get.trim.split("\\s+").drop(1)
      .take(8).map(_.toLong)
    val total = f.sum
    Stat(total - f(3) - f(4), total, lines.count(_.matches("^cpu\\d+ .*")))
  }

  def loadavg1(): Double =
    new String(Files.readAllBytes(Paths.get("/proc/loadavg"))).trim.split(" ")(0).toDouble

  /** Peak resident set (VmHWM) of this JVM in MB. */
  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0)
      .getOrElse(0.0)
}
