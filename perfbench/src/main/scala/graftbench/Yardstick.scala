package graftbench

import java.util.concurrent.{Callable, Executors}

import scala.jdk.CollectionConverters._

/** A fixed piece of JVM work on every core at once (filling, sorting and
  * hashing arrays, building strings) that touches no graft or Spark code. Its
  * time says how fast this shared machine runs at the moment; the benchmark
  * scales its times by it (README.md, "Host speed").
  */
object Yardstick {
  @volatile private var sink = 0L
  private lazy val cores = Runtime.getRuntime.availableProcessors
  private lazy val pool = Executors.newFixedThreadPool(cores, (r: Runnable) => {
    val t = new Thread(r, "yardstick")
    t.setDaemon(true)
    t
  })

  /** Milliseconds for one round: the work on every core, timed to the last. */
  def ms(): Double = {
    val tasks = (0 until cores).map(i => (() => work(i)): Callable[Long])
    val t0 = System.nanoTime()
    val done = pool.invokeAll(tasks.asJava)
    val t1 = System.nanoTime()
    sink += done.asScala.map(_.get).sum
    (t1 - t0) / 1e6
  }

  /** The median of three rounds. */
  def sample(): Double = Seq(ms(), ms(), ms()).sorted.apply(1)

  private def work(seed: Int): Long = {
    var x = 0x9E3779B97F4A7C15L ^ seed
    val a = new Array[Long](1 << 18)
    var i = 0
    while (i < a.length) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      a(i) = x
      i += 1
    }
    java.util.Arrays.sort(a)
    val m = new java.util.HashMap[java.lang.Long, java.lang.Long]()
    val sb = new java.lang.StringBuilder
    i = 0
    while (i < a.length) {
      m.merge(a(i) & 0x3fff, 1L, (p: java.lang.Long, q: java.lang.Long) => p + q)
      if ((i & 7) == 0) {
        sb.setLength(0)
        sb.append(a(i)).append(',').append(i)
        x += sb.toString.hashCode
      }
      i += 1
    }
    x + m.size
  }
}
