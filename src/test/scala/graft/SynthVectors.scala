package graft

/** Deterministic synthetic embedding corpus for the vector specs: every
  * vector derives from a per-id seed, so any prefix of the corpus is the
  * same on every run and generation needs no coordination.
  */
object SynthVectors {

  private def rngFor(i: Long) =
    new java.util.Random(0x5CA1EB0BL ^ (i * 0x9E3779B97F4A7C15L))

  final case class SynthVec(vec_id: Long, embedding: Array[Float], label: Int)

  private def freshVec(r: java.util.Random): Array[Float] =
    Array.fill(64)(r.nextGaussian().toFloat)

  /** Unlike the driver corpus (weak angular structure — true neighbors at
    * cosine 0.26-0.37), this one plants STRONG near-neighbors: every 13th
    * vector is a noised copy of one of the five query vectors, the shape
    * of a real embedding corpus where duplicates sit at high cosine.
    */
  def synthVec(i: Long): SynthVec = {
    val rnd = rngFor(i * 7919L + 1)
    val emb =
      if (i >= 5 && i % 13 == 0) {
        val base = freshVec(rngFor((i % 5) * 7919L + 1))
        base.map(x => (x + 0.25 * rnd.nextGaussian()).toFloat)
      } else freshVec(rnd)
    SynthVec(i, emb, (i % 20).toInt)
  }
}
