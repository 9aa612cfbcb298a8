package graftbench

/** A fixed, engine-independent JVM kernel: the host-speed signal. One call
  * runs the same work on `threads` threads at once (random reads and
  * writes over a 16 MB array and a sort of 128k ints per thread, in
  * buffers allocated once, so no garbage is made) and returns the wall
  * seconds. A run times it between its measured stretches, so a slower
  * host shows in it too. */
object Calib {
  private val Words = 1 << 21  // 16 MB of longs per thread
  private val buffers = new java.util.concurrent.ConcurrentHashMap[Integer, (Array[Long], Array[Int])]

  private def work(k: Int): Long = {
    val (a, b) = buffers.computeIfAbsent(k, _ => (new Array[Long](Words), new Array[Int](1 << 17)))
    var x = k.toLong * 0x9E3779B97F4A7C15L + 1
    var acc = 0L
    var i = 0
    while (i < 3000000) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      val j = ((x >>> 11) & (Words - 1)).toInt
      a(j) += x
      acc += a((j * 31) & (Words - 1))
      i += 1
    }
    i = 0
    while (i < b.length) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; b(i) = x.toInt; i += 1 }
    java.util.Arrays.sort(b)
    acc + b(b.length / 2)
  }

  @volatile private var sink = 0L

  /** Wall seconds for one run of the kernel on `threads` threads. */
  def once(threads: Int): Double = {
    val ts = (0 until threads).map(k => new Thread(() => { sink += work(k) }))
    val t0 = System.nanoTime()
    ts.foreach(_.start())
    ts.foreach(_.join())
    (System.nanoTime() - t0) / 1e9
  }

  /** The median of nine calls. */
  def time(threads: Int): Double = Seq.fill(9)(once(threads)).sorted.apply(4)
}
