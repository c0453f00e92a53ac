package abrbench

import java.util.concurrent.{Callable, Executors, TimeUnit}
import java.util.zip.Deflater

import scala.jdk.CollectionConverters._

/** A fixed reference workload that shares nothing with the program: one
  * thread per core deflates a fixed text buffer and sorts a fixed array.
  * Timed between operations, it tracks how fast the machine is at that
  * moment, so wall times can be reported at a reference speed.
  */
object Calibrate {

  /** Reference time of one round: wall times are scaled by
    * `ReferenceS / mean measured round time`.
    */
  val ReferenceS = 0.1

  private val text: Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    new Gen.Population(424242L, 3000).write(out)
    out.toByteArray
  }
  private val longs: Array[Long] =
    Array.tabulate(200000)(i => Gen.mix(i.toLong))

  private def work(): Long = {
    val d = new Deflater()
    val buf = new Array[Byte](1 << 16)
    var n = 0L
    try {
      d.setInput(text)
      d.finish()
      while (!d.finished()) n += d.deflate(buf)
    } finally d.end()
    val a = longs.clone()
    java.util.Arrays.sort(a)
    n + a(a.length / 2)
  }

  /** Wall seconds of one round on `threads` threads. */
  def round(threads: Int): Double = {
    val pool = Executors.newFixedThreadPool(threads)
    try {
      val tasks = (1 to threads).map(_ => new Callable[Long] {
        def call(): Long = work()
      })
      val t0 = System.nanoTime()
      pool.invokeAll(tasks.asJava).asScala.foreach(_.get())
      (System.nanoTime() - t0) / 1e9
    } finally {
      pool.shutdown()
      pool.awaitTermination(1, TimeUnit.MINUTES)
    }
  }
}
