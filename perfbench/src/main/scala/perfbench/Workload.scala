package perfbench

import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable.ArrayBuffer

/** One operation of a pass, issued alone and awaited (closed loop, one
  * client). `layer` names the module whose public function the operation
  * calls; `units` is the work it does: fact rows probed, keys built, or one
  * gate. `verify` inspects the operation's return value after its timer has
  * stopped and returns a failure message, if any.
  */
final case class Op(name: String, layer: String, kind: String, family: String, units: Long)(
    val run: () => Any, val verify: Any => Option[String] = _ => None)

/** An output check, run outside the timed phase. */
final case class Check(name: String, failure: Option[String])

/** Keys handed straight to `graft.core` in a traced run: the members a
  * filter is built over (raw keys, hashed as the SQL path hashes them) and
  * non-members for the false-positive rate.
  */
final case class CoreKeys(members: Array[Long], nonMembers: Array[Long])

trait Workload {
  /** The set-up: inputs and stored state. */
  def prepare(): Unit
  /** Untimed passes run after the set-up, counted in `setup_s`. */
  def warmupPasses: Int
  def beforePass(): Unit = ()
  def ops: Seq[Op]
  def checks(): Seq[Check]
  /** fp_rate and bytes_per_key, found by the checks; empty if not applicable. */
  def quality: Map[String, Double]
  def coreKeys(): CoreKeys
  /** What identifies the inputs: a digest of generated ones, or a name.
    * Read after the measured phase, so a digest is not part of `setup_s`. */
  def inputs: String
}

/** Benchmark-side spans around calls into the library. Records only while
  * `on` is set, i.e. in traced passes.
  */
object Tracer {
  val ids = new AtomicInteger(0)
  @volatile var on = false
  @volatile var parent = -1
  val spans = ArrayBuffer.empty[Span]

  def time[T](layer: String, name: String)(body: => T): T =
    if (!on) body
    else {
      val start = System.nanoTime()
      try body
      finally spans.synchronized {
        spans += Span(ids.incrementAndGet(), parent, layer, name, start, System.nanoTime())
      }
    }
}
