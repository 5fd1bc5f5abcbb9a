package perfbench

import graft.core.DuckDbHash

/** Direct, single-threaded calls into `graft.core` on a workload's own
  * keys: the hash, and per family the build, the probe, bits per key and
  * the false-positive rate. Each timing is the median of three timed
  * rounds after one untimed round; a round repeats its call until it has
  * run for at least `minRoundNs`, so small key sets still time reliably.
  */
object CoreKernels {
  private val minRoundNs = 20000000L
  /** Results are folded in here so the JIT cannot drop the timed work. */
  @volatile private var blackhole = 0L

  /** Nanoseconds per call of `body`, median of three rounds. */
  private def nsPerCall(label: String)(body: => Unit): Double = {
    body
    val rounds = (1 to 3).map { _ =>
      Tracer.time("core", label) {
        val t0 = System.nanoTime()
        var calls = 0
        while (calls == 0 || System.nanoTime() - t0 < minRoundNs) { body; calls += 1 }
        (System.nanoTime() - t0).toDouble / calls
      }
    }
    rounds.sorted.apply(1)
  }

  def run(keys: CoreKeys): Map[String, Double] = {
    val n = keys.members.length
    var sink = 0L
    val hashNs = nsPerCall("hash") {
      var i = 0; var acc = 0L
      while (i < n) { acc ^= DuckDbHash.hashLong(keys.members(i)); i += 1 }
      sink ^= acc
    } / n
    val members = keys.members.map(DuckDbHash.hashLong)
    val nonMembers = keys.nonMembers.map(DuckDbHash.hashLong)
    val probes = members ++ nonMembers
    val perFamily = Families.all.flatMap { f =>
      var blob: Array[Byte] = null
      val buildNs = nsPerCall(s"${f.name}.build") { blob = f.coreBuild(members.clone()) } / n
      val probeNs = nsPerCall(s"${f.name}.probe") { sink ^= f.coreHits(blob, probes) } / probes.length
      val fp = f.coreHits(blob, nonMembers).toDouble / math.max(1, nonMembers.length)
      Seq(s"core.${f.name}.build_ns_per_key" -> buildNs, s"core.${f.name}.probe_ns_per_key" -> probeNs,
        s"core.${f.name}.bits_per_key" -> blob.length * 8.0 / n, s"core.${f.name}.fp_rate" -> fp)
    }
    blackhole = sink
    (("core.hash.ns_per_key" -> hashNs) +: perFamily).toMap
  }
}
