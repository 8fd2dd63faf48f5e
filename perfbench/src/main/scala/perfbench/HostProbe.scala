package perfbench

import java.nio.file.{Files, Path}
import java.util.SplittableRandom
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

/** A fixed unit of host work, timed between the ops of a timed phase,
  * so that a run's times can be scaled to one host speed.
  *
  * The shared VM the benchmark was built on runs file system calls and
  * Jackson at two speeds about 1.5 times apart, switching within a
  * second, in a mix that drifts over minutes; steal time stays below
  * 1% and a dependent integer loop keeps its speed. `JsonFileStore`
  * calls, which are file reads and JSON work, follow that drift: ten
  * 25 s `serve_json` runs of the same code spread up to 0.35 (quartile
  * distance over median) on the point-get and query medians. The unit
  * here does the same kind of work without the code under test — read
  * ten small JSON files written when the probe is made and parse them
  * with Jackson — and its median over a run follows the drift.
  *
  * It follows it more steeply than the store calls do: over fifteen
  * 25 s runs, the slope of the log of each `serve_json` figure on the
  * log of the probe's median was 0.64 (point get), 0.55 (filtered
  * get), 0.82 (query) and -0.45 (ops per second), each with a
  * correlation of 0.90 or more. So a scaled time is the measured time
  * times (`RefMs` / the probe's median) to the power `Exponent`, and a
  * scaled rate the measured rate over that factor. The unit's files
  * and code are the benchmark's own, so a change to the store moves
  * scaled and measured figures alike. */
final class HostProbe(dir: Path) {
  private val files: IndexedSeq[Path] = {
    Files.createDirectories(dir)
    val r = new SplittableRandom(HostProbe.Seed)
    (0 until HostProbe.FileCount).map { i =>
      val body = (0 until 60).map(j => s""""k$j": [${r.nextDouble()}, ${r.nextInt()}, "s${r.nextLong()}"]""")
      Files.writeString(dir.resolve(s"probe$i.json"), body.mkString("{", ", ", "}"))
    }
  }
  private val samples = new ConcurrentLinkedQueue[java.lang.Double]()

  /** Time one unit, starting at file `i`, and keep the sample. */
  def sample(i: Int): Unit = {
    val t0 = System.nanoTime()
    var k = 0
    var entries = 0
    while (k < HostProbe.FilesPerUnit) {
      entries += Corpus.mapper.readTree(Files.readAllBytes(files((i + k) % files.size))).size()
      k += 1
    }
    samples.add((System.nanoTime() - t0) / 1e6)
    require(entries == 60 * HostProbe.FilesPerUnit, s"host probe read $entries entries")
  }

  def count: Int = samples.size
  def medianMs: Double = Stats.median(samples.asScala.map(_.doubleValue).toArray)
  /** Factor that turns a measured time into a scaled one. */
  def scale: Double = math.pow(HostProbe.RefMs / medianMs, HostProbe.Exponent)
}

object HostProbe {
  /** The unit's time on the reference host, in ms: about its median on
    * the VM above in its fast phases. */
  val RefMs = 0.5
  /** About the mean of the four slopes above. */
  val Exponent = 0.6
  val FileCount = 50
  val FilesPerUnit = 10
  val Seed = 0x4057L
}
