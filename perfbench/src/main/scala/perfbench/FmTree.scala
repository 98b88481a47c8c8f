package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import org.apache.spark.unsafe.Platform
import org.apache.spark.sql.catalyst.expressions.XXH64
import scala.jdk.CollectionConverters._

/** The `fm` workload's input: a partitioned line-file tree
  * (`<root>/part=<v>/f<i>.txt`) drawn from a vocabulary with a seeded
  * generator, plus the expected outputs the benchmark computes from the
  * files it wrote. */
final class FmTree(val root: Path, vocab: IndexedSeq[String], seed: Long,
    val partitions: Int, filesPerPart: Int, linesPerFile: Int) {
  private val rng = new java.util.Random(seed)
  private var version = 0

  def partDir(p: Int): Path = root.resolve(s"part=p$p")

  /** Rewrites every file of partition `p` with fresh seeded content. */
  def writePart(p: Int): Unit = {
    version += 1
    val dir = partDir(p)
    Files.createDirectories(dir)
    (0 until filesPerPart).foreach { f =>
      val sb = new StringBuilder
      (0 until linesPerFile).foreach { _ =>
        val n = 4 + rng.nextInt(10)
        // Squared uniform: a skewed word distribution, so some buckets
        // of the reduce are much heavier than others.
        (0 until n).foreach { i =>
          val u = rng.nextDouble()
          if (i > 0) sb.append(' ')
          sb.append(vocab((u * u * vocab.length).toInt))
        }
        sb.append('\n')
      }
      Files.write(dir.resolve(s"f$f.txt"), sb.toString.getBytes(UTF_8))
    }
  }

  def writeAll(): Unit = (0 until partitions).foreach(writePart)

  /** `k` distinct seeded partitions. */
  def pick(k: Int): Seq[Int] =
    rng.ints(0, partitions).distinct().limit(k.toLong).toArray.toSeq.sorted

  def lines(): Vector[String] =
    Host.filesUnder(root, _.endsWith(".txt")).sortBy(_.toString)
      .flatMap(f => Files.readAllLines(f, UTF_8).asScala).toVector

  def bytes: Long = Host.bytesUnder(root)
  def fileCount: Int = Host.filesUnder(root, _.endsWith(".txt")).size

  def pickBuckets(k: Int, buckets: Int): Seq[Int] =
    rng.ints(0, buckets).distinct().limit(k.toLong).toArray.toSeq.sorted
}

object FmTree {
  /** The bucket `Cli.put` assigns a line to: Spark's `xxhash64` (seed 42)
    * of the UTF-8 bytes, modulo the bucket count, computed here without
    * Spark so the check does not share code with the path it checks. */
  def bucketOf(line: String, buckets: Int): Int = {
    val b = line.getBytes(UTF_8)
    val h = XXH64.hashUnsafeBytes(b, Platform.BYTE_ARRAY_OFFSET, b.length, 42L)
    (((h % buckets) + buckets) % buckets).toInt
  }

  /** Word counts of `sort | uniq -c` over the words of `lines`. */
  def wordCounts(lines: Seq[String]): Map[String, Long] =
    lines.iterator.flatMap(_.split(' ')).toSeq
      .groupMapReduce(identity)(_ => 1L)(_ + _)

  /** Parses `uniq -c` output lines ("   12 word") from the text parts
    * under `dir`; a word split across two buckets shows as two entries. */
  def readCounts(dir: Path): Seq[(String, Long)] =
    readLines(dir).filter(_.trim.nonEmpty).map { l =>
      val t = l.trim
      val i = t.indexOf(' ')
      t.substring(i + 1) -> t.substring(0, i).toLong
    }

  def readLines(dir: Path): Vector[String] =
    Host.filesUnder(dir, n => n.startsWith("part-"))
      .flatMap(f => Files.readAllLines(f, UTF_8).asScala).toVector
}
