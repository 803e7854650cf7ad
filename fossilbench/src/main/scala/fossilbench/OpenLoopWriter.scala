package fossilbench

import scala.collection.mutable.ArrayBuffer

import graft.api.{RemoteClient, WireException}

/** Open-loop wire APPEND generator on one connection: append `k` is due
  * `k / rate` seconds after [[start]] whether or not earlier ones have
  * returned, and is timed from when it was due, so a stall shows in the
  * latency of every append queued behind it. `payload(k)` gives its
  * topic, value and wire bytes; traced runs also time `inProcess`, the
  * same append through the embedded client. */
final class OpenLoopWriter(remote: RemoteClient, ratePerS: Double, tracer: Tracer,
    payload: Int => (String, Double, Array[Byte]), inProcess: (String, Array[Byte]) => Unit) {
  import OpenLoopWriter.Append

  private val out = ArrayBuffer.empty[Append]
  @volatile private var stopping = false
  private val periodNs = (1e9 / ratePerS).toLong
  private var t0 = 0L

  private val thread = new Thread(() => {
    var k = 0
    // an append still unsent at stop is not attempted: the backlog shows
    // in `outstanding` and in the latencies of the appends that were sent
    while (!stopping) {
      val due = t0 + k * periodNs
      var wait = due - System.nanoTime()
      while (wait > 0 && !stopping) {
        // short slices, so stop() never waits out a whole period
        val slice = math.min(wait, 20000000L)
        Thread.sleep(slice / 1000000L, (slice % 1000000L).toInt)
        wait = due - System.nanoTime()
      }
      if (!stopping) {
        val sent = System.nanoTime()
        val outstanding = ((sent - t0) / periodNs).toInt - k + 1
        val (topic, v, bytes) = payload(k)
        val err = tracer.span("append") {
          val e = try { tracer.span("api.append")(remote.append(topic, bytes)); null }
            catch { case e: WireException => e.getMessage }
          if (tracer.enabled) tracer.span("engine.append")(inProcess(topic, bytes))
          e
        }
        val end = System.nanoTime()
        out.synchronized(out += Append(topic, v, (sent - due) / 1e6, (end - due) / 1e6,
          outstanding, err))
        k += 1
      }
    }
  }, "fossilbench-writer")

  def start(): Unit = { t0 = System.nanoTime(); thread.start() }

  /** Stops scheduling, waits for the append in flight, returns all sent. */
  def stop(): Seq[Append] = {
    stopping = true
    thread.join()
    out.synchronized(out.toSeq)
  }
}

object OpenLoopWriter {
  /** One sent append: `ms` from due time to reply, `lateMs` from due time
    * to send, `outstanding` appends due and unsent when it was sent. */
  final case class Append(topic: String, value: Double, lateMs: Double, ms: Double,
      outstanding: Int, error: String)
}
