package perfbench

import scala.collection.mutable

/** A fixed piece of single-threaded JVM work, run after every timed
  * operation, that follows the host's speed over the timed region.
  *
  * The host is a VM on a shared machine, and its speed swings by up to
  * 2.5x within minutes: in one spell `reads_with_writes` read 2.47 and
  * then 0.83 reads/s on consecutive runs of the same build. This kernel
  * fills a hash map of boxed keys with small arrays, sorts the keys and
  * walks the values, much as the Spark driver's planning allocates and
  * chases pointers. Over eight runs in such a spell, its median time
  * correlated with `work_per_s` at -0.95, and dividing it out cut the
  * spread between runs from 0.23 to 0.09; a sort of a primitive array,
  * which stays in cache, correlated at -0.78 only.
  *
  * The kernel is the benchmark's own code, so no change to the program
  * changes its work.
  */
final class HostSpeed {
  private val samples = mutable.ArrayBuffer.empty[Double]
  @volatile private var sink = 0L

  def sample(): Unit = {
    val t0 = System.nanoTime()
    val rnd = new java.util.SplittableRandom(7)
    val m = new java.util.HashMap[java.lang.Long, Array[Long]]()
    var i = 0
    while (i < HostSpeed.Entries) {
      m.put(rnd.nextLong(), Array(rnd.nextLong(), i.toLong))
      i += 1
    }
    val keys = new java.util.ArrayList[java.lang.Long](m.keySet())
    java.util.Collections.sort(keys)
    var s = 0L
    val it = m.values().iterator()
    while (it.hasNext) s += it.next()(1)
    sink += s + keys.get(keys.size / 2)
    samples += (System.nanoTime() - t0) / 1e6
  }

  /** Runs the kernel untimed until the JIT has compiled it. */
  def warm(): Unit = {
    (1 to 20).foreach(_ => sample())
    samples.clear()
  }

  def medianMs: Double = Stats.median(samples.toSeq)
}

object HostSpeed {
  val Entries = 100000

  /** The kernel's time that the normalised figures are scaled to: a
    * round figure at the low end of its medians on the 4-vCPU VM of the
    * README (47-72 ms). A fixed scale: the normalised figures read in ms
    * and 1/s of a host on which the kernel takes this long.
    */
  val RefMs = 50.0
}
