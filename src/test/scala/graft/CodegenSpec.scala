package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.VectorOps
import graft.plans.HashExpressions
import graft.sources.TableIO

/** Custom expressions must produce compilable generated code: a codegen
  * failure normally falls back to interpretation silently. With the
  * factory in CODEGEN_ONLY mode and whole-stage fallback off, each
  * expression below is evaluated (collected, so column pruning cannot
  * drop it) and any compile failure throws.
  */
class CodegenSpec extends SparkSpec {
  private lazy val docs = TableIO.table(spark, Sf0001, "documents")
  private lazy val emb = TableIO.table(spark, Sf0001, "embeddings")
  private lazy val planes = VectorOps.randomPlanes(8, 64, 42L)

  private val checks: Seq[(String, () => DataFrame)] = Seq(
    "minHashFromText" -> (() => docs.select(
      HashExpressions.minHashFromText(col("text"), 3, 64, 42L))),
    "simHashFromText" -> (() => docs.select(
      HashExpressions.simHashFromText(col("text")))),
    "wordNGramHashes" -> (() => docs.select(
      HashExpressions.wordNGramHashes(col("text"), 3))),
    "winnowFingerprints" -> (() => docs.select(
      HashExpressions.winnowFingerprints(col("text"), 3, 4))),
    "dotProduct" -> (() => emb.select(
      HashExpressions.dotProduct(
        VectorOps.asDouble(col("embedding")), VectorOps.asDouble(col("embedding"))))),
    "hyperplaneSignature" -> (() => emb.select(
      HashExpressions.hyperplaneSignature(
        VectorOps.asDouble(col("embedding")), planes))),
    "tokenSetCount" -> (() => docs.select(
      HashExpressions.tokenSetCount(lower(col("text")),
        graft.functions.TextFunctions.Stopwords("en")))),
    "tokenCount" -> (() => docs.select(
      HashExpressions.tokenCount(col("text")))),
    "deflateSize" -> (() => docs.select(
      HashExpressions.deflateSize(col("text")))),
    "dsirBuckets" -> (() => docs.select(
      HashExpressions.dsirBuckets(col("text"), 1024))),
    "minhashSig" -> (() => docs.select(
      HashExpressions.minhashSig(col("text"), 3, 16))),
    "asciiSetCount" -> (() => docs.select(
      HashExpressions.asciiSetCount(col("text"), ".,;:!?"))),
    "tokenStats" -> (() => docs.select(
      HashExpressions.tokenStats(col("text"),
        graft.functions.TextFunctions.Stopwords("en")))),
    "hasNonAscii" -> (() => docs.select(
      HashExpressions.hasNonAscii(col("text")))),
    "redactPii" -> (() => docs.select(
      HashExpressions.redactPii(col("text")))),
    "topGramFrac" -> (() => docs.select(
      HashExpressions.topGramFrac(col("text"), 2))),
    "signPackHamming" -> (() => emb.select(
      HashExpressions.hammingTo(
        HashExpressions.signPack(VectorOps.asDouble(col("embedding"))),
        Seq(0L)))),
    "pqEncodeDecodeAdc" -> (() => {
      // tiny fixed codebook: 2 subspaces x 2 centroids over 64 dims
      val cb = Seq.tabulate(2 * 2 * 32)(i => (i % 7).toDouble)
      val lut = Seq.tabulate(2 * 2)(_.toDouble)
      emb.select(
        HashExpressions.pqAdc(
          HashExpressions.pqEncode(
            VectorOps.asDouble(col("embedding")), cb, 2, 2, 32), lut, 2),
        HashExpressions.pqDecode(
          HashExpressions.pqEncode(
            VectorOps.asDouble(col("embedding")), cb, 2, 2, 32), cb, 2, 2, 32))
    }),
    "bloomCount" -> (() => {
      val bf = org.apache.spark.util.sketch.BloomFilter.create(100L, 0.01)
      bf.putLong(42L)
      val bos = new java.io.ByteArrayOutputStream()
      bf.writeTo(bos)
      docs.select(HashExpressions.bloomCount(
        HashExpressions.wordNGramHashes(col("text"), 3), bos.toByteArray.toSeq))
    }),
    "bloomMightContain" -> (() => {
      val bf = org.apache.spark.util.sketch.BloomFilter.create(100L, 0.01)
      bf.putLong(42L)
      val bos = new java.io.ByteArrayOutputStream()
      bf.writeTo(bos)
      docs.select(HashExpressions.bloomMightContain(
        org.apache.spark.sql.functions.xxhash64(col("doc_id")),
        bos.toByteArray.toSeq))
    }),
    "matVec" -> (() => {
      val rot = graft.operators.Quantization.seededRotation(64, 42L)
      emb.select(
        HashExpressions.matVec(VectorOps.asDouble(col("embedding")), rot, 64))
    }),
    "quantileFromState" -> (() => {
      import graft.plans.QuantileStateAgg.{quantileFromState, quantileState}
      docs.groupBy(col("lang"))
        .agg(quantileState(col("n_chars").cast("double")).as("qs"))
        .select(quantileFromState(col("qs"), 0.5))
    }))

  private val codegenOnly = Seq(
    "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY",
    "spark.sql.codegen.fallback" -> "false")

  checks.foreach { case (name, frame) =>
    test(s"$name evaluates under CODEGEN_ONLY with no fallback") {
      val saved = codegenOnly.map { case (k, _) => k -> spark.conf.getOption(k) }
      codegenOnly.foreach { case (k, v) => spark.conf.set(k, v) }
      try assert(frame().collect().nonEmpty)
      finally saved.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
    }
  }
}
