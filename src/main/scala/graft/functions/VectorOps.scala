package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Embedding-vector column functions over `array<float|double>` columns.
  * Built on higher-order functions (`zip_with`/`aggregate`) — evaluated
  * row-local with zero shuffle, which is exactly what a 100 TB scoring
  * pass needs. Sums fold sequentially left-to-right, so results are
  * deterministic and reproducible across engines.
  */
object VectorOps {

  /** Cast an embedding column to array<double> for stable arithmetic. */
  def asDouble(c: Column): Column = c.cast("array<double>")

  /** Primitive-loop dot product (graft.plans.DotProductExpr) — sequential
    * left-to-right summation, deterministic and bit-reproducible, ~10x
    * the interpreted aggregate/zip_with form on candidate-pair scoring.
    */
  def dot(a: Column, b: Column): Column =
    graft.plans.HashExpressions.dotProduct(a, b)

  def l2Norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (l2Norm(a) * l2Norm(b))

  /** First-`dims` prefix of an embedding (matryoshka-style truncation):
    * retrieval over MRL-trained embeddings scans a fraction of each
    * vector's bytes at a modest recall cost, re-ranking survivors at
    * full dimension. Cosine is scale-invariant, so no re-normalization
    * is needed for ranking. Deterministic — truncated-search results
    * carry a full value oracle.
    */
  def truncate(c: Column, dims: Int): Column =
    slice(asDouble(c), 1, dims)

  /** Random-hyperplane LSH bucket id: bit i = sign(v . plane_i), all
    * planes in one expression pass. Planes come from a seeded RNG, so
    * the signature is deterministic — the bucketing join for ANN search
    * is reproducible run to run.
    */
  def hyperplaneSignature(vec: Column, planes: Seq[Array[Double]]): Column =
    graft.plans.HashExpressions.hyperplaneSignature(vec, planes)

  /** Pigeonhole chunk keys for hyperplane LSH: a signature of `numPlanes`
    * bits splits into maxHamming + 1 (chunk, cv) structs, so any two
    * signatures within maxHamming bits share at least one exact chunk and
    * a chunk equi-join finds them. With fewer planes than chunks the
    * trailing chunks would key every row to 0 and the join silently
    * degenerates to a cross join (correct but brute-force cost), so that
    * config fails here, before the caller reads any data. Apply the
    * result to the signature column.
    */
  private[graft] def hyperplaneChunkKeys(numPlanes: Int, maxHamming: Int): Column => Column = {
    require(numPlanes >= maxHamming + 1,
      s"hyperplane LSH needs numPlanes >= maxHamming + 1 (got numPlanes=$numPlanes, maxHamming=$maxHamming)")
    val chunks = maxHamming + 1
    val bitsPer = (numPlanes + chunks - 1) / chunks
    sig => array((0 until chunks).map { c =>
      val start = c * bitsPer
      val width = math.max(1, math.min(bitsPer, numPlanes - start))
      struct(
        lit(c).as("chunk"),
        shiftrightunsigned(sig, start).bitwiseAND(lit((1L << width) - 1)).as("cv"))
    }: _*)
  }

  /** Deterministic gaussian-ish hyperplanes from a seed. */
  def randomPlanes(numPlanes: Int, dim: Int, seed: Long): Seq[Array[Double]] = {
    val rng = new scala.util.Random(seed)
    Seq.fill(numPlanes)(Array.fill(dim)(rng.nextGaussian()))
  }
}
