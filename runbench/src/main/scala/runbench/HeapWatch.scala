package runbench

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkMemory

/** Peak of the heap Spark's memory manager holds, cached blocks plus task
  * buffers, polled every 5 ms. Persisting a frame to feed a later stage,
  * or larger aggregation maps, show here; garbage waiting for the
  * collector does not, which keeps the figure steady from run to run.
  */
object HeapWatch {
  @volatile private var peakBytes = 0L

  private val poller = new Thread(() => {
    while (true) {
      val used = SparkMemory.usedBytes()
      if (used > peakBytes) peakBytes = used
      Thread.sleep(5)
    }
  }, "runbench-heap-watch")
  poller.setDaemon(true)
  poller.start()

  /** Collect garbage, so each refresh starts from the same heap, and
    * start a new peak.
    */
  def reset(): Unit = {
    System.gc()
    peakBytes = 0L
  }

  /** Peak since [[reset]], in MiB. */
  def peakMb(): Double = peakBytes / (1024.0 * 1024.0)

  /** Total collector time since JVM start, in seconds. */
  def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1000.0
}
