package perfbench

import java.lang.management.{ManagementFactory, MemoryType}

import scala.jdk.CollectionConverters._

/** The JVM memory the program keeps in use, independent of the heap size the
  * benchmark gives the JVM: the largest live heap seen at a sample point
  * (full collections first, so only what is reachable counts), plus the peak
  * of the non-heap pools (metaspace, compressed class space, code cache).
  *
  * [[sample]] is called between timed sections, so its collections are
  * not timed.
  */
final class MemoryWatch {
  /** Live heap at each sample point, in bytes. */
  val samples = collection.mutable.ArrayBuffer.empty[Long]

  /** Collects until the live heap stops shrinking: each collection hands
    * unreachable plans' broadcasts and shuffles to Spark's ContextCleaner,
    * which releases them on its own thread, for a later collection to take.
    */
  def sample(): Unit = {
    def live(): Long = {
      System.gc()
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    }
    var last = live()
    var done = false
    var i = 0
    while (!done && i < 10) {
      Thread.sleep(250)
      val now = live()
      done = now > last - (last >> 6)
      last = math.min(last, now)
      i += 1
    }
    samples += last
  }

  /** Peak memory in use, in MiB. */
  def peakMb: Double = {
    val nonHeap = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.NON_HEAP).map(_.getPeakUsage.getUsed).sum
    (samples.maxOption.getOrElse(0L) + nonHeap) / 1048576.0
  }
}
