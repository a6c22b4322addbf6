package graft.operators

/** Deterministic STRUCTURED embedding generators for serving-quality
  * measurement. The driver testdata's embeddings are i.i.d. random, so
  * prescreen recall measured on them is meaningless noise (a 16-dim
  * prefix of a random 64-dim vector is just a random projection —
  * q104's spec documents measured recall ~0.5 there). Real embedding
  * spaces have (a) CLUSTER structure — neighbors share a latent
  * concept — and (b) decaying coordinate energy (PCA-rotated or
  * Matryoshka-trained embeddings front-load information). This is the
  * standard low-rank-plus-noise construction from the sketching /
  * mixture-model literature: x = center(z) + σ·noise, coordinates
  * scaled by a decay profile, fixed seed.
  *
  * `RecallSpec` measures recall@k of every prescreen family member
  * (binary quantization, Matryoshka prefix, PQ/ADC) against exact
  * brute force on this fixture — the quality claims each operator's
  * scaladoc makes are pinned there with stated targets.
  */
object EmbeddingFixtures {

  /** `n` embeddings of `dim` dims drawn around `nCenters` latent
    * centers: v_j = (c_j + noise·g) · s_j with s_j = 1/(1 + j/4) (the
    * front-loaded energy profile), g ~ N(0,1) from a fixed-seed
    * `scala.util.Random` (deterministic across JVMs — the algorithm is
    * specified). Ids are 0..n-1; row i belongs to center i % nCenters,
    * so ground-truth neighbors are knowable by construction.
    */
  def lowRank(n: Int, dim: Int, nCenters: Int, noise: Double,
              seed: Long = 42L): Seq[(Long, Seq[Float])] = {
    require(n >= 1 && dim >= 1 && nCenters >= 1 && noise >= 0)
    val rnd = new scala.util.Random(seed)
    val centers = Array.fill(nCenters, dim)(rnd.nextGaussian())
    val scale = Array.tabulate(dim)(j => 1.0 / (1.0 + j.toDouble / 4.0))
    (0 until n).map { i =>
      val c = centers(i % nCenters)
      val v = Array.tabulate(dim)(j =>
        ((c(j) + noise * rnd.nextGaussian()) * scale(j)).toFloat)
      (i.toLong, v.toSeq)
    }
  }
}
