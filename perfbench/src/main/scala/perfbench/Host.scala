package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

/** Host and JVM probes: the co-residency sentinel, GC and heap readings,
  * and directory walks for the disk metrics. */
object Host {
  @volatile private var spinSink = 0L

  /** A fixed single-threaded unit of arithmetic (2^25 LCG steps). On an
    * idle core its wall time is a per-host constant; under CPU
    * contention it grows, so a record that starts on a busy host shows
    * it. */
  def spin(): Double = {
    val t0 = System.nanoTime()
    var acc = 0x9E3779B97F4A7C15L
    var i = 0
    while (i < (1 << 25)) {
      acc = acc * 6364136223846793005L + 1442695040888963407L
      acc ^= acc >>> 33
      i += 1
    }
    spinSink = acc
    (System.nanoTime() - t0) / 1e9
  }

  def loadAvg(): Double =
    ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  /** Cumulative collection milliseconds of every collector in this JVM. */
  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum

  /** Heap in use after full collections, in MB. The pauses between the
    * collections let Spark's context cleaner release what the first
    * collection made unreachable. */
  def retainedHeapMb(): Double = {
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(300) }
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6
  }

  def bytesUnder(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val walk = Files.walk(p)
      try walk.iterator().asScala.filter(Files.isRegularFile(_))
        .map(Files.size(_)).sum
      finally walk.close()
    }

  /** Files under `p`, optionally only those whose name passes `keep`. */
  def filesUnder(p: Path, keep: String => Boolean = _ => true): Seq[Path] =
    if (!Files.exists(p)) Nil
    else {
      val walk = Files.walk(p)
      try walk.iterator().asScala
        .filter(f => Files.isRegularFile(f) && keep(f.getFileName.toString))
        .toVector
      finally walk.close()
    }

  /** The `graft_*` stage directories the library's stage cache has
    * created under the JVM temp dir. */
  def stageDirs(tmp: Path): Seq[Path] =
    if (!Files.exists(tmp)) Nil
    else {
      val ls = Files.list(tmp)
      try ls.iterator().asScala
        .filter(d => Files.isDirectory(d) &&
          d.getFileName.toString.startsWith("graft_"))
        .toVector
      finally ls.close()
    }
}
