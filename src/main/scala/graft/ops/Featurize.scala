package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic text→embedding featurizer — the lane that lets the
  * similarity/dedup/k-means stack run end-to-end from RAW TEXT with no
  * pre-supplied embeddings table.
  *
  * The classic hashing trick (Weinberger et al., ICML 2009: feature
  * hashing with a separate sign hash, which keeps the inner product
  * unbiased): each word token hashes into one of `dim` buckets
  * (md5 h1 mod dim) with a ±1 sign (parity of md5 h2), per-occurrence
  * signed counts accumulate per bucket, and the vector is L2-normalized
  * in scaled-integer micro-units — floor(10⁶·c/√Σc²) — so every engine
  * reproduces the embedding BIT-FOR-BIT (md5 is the portable hash
  * throughout this repo; integer counts are exact; the one division uses
  * IEEE doubles whose inputs and operation order are pinned, and the
  * floor lands on the same integer — the q97 oracle gates the full
  * chain). Cosine over these micro vectors equals cosine over the
  * unnormalized counts (scale invariance), so consumers can feed either
  * form to [[Similarity]] / [[Kmeans]] / [[Dedup.dupClusters]].
  *
  * Scale shape: ONE fused compiled pass per document (tokenize → digest →
  * accumulate into a dim-length array), no explode, no shuffle — the
  * featurizer is a narrow map over the corpus, embarrassingly parallel at
  * 100 TB. `dim` is a closure constant (the array is per-row state, never
  * aggregated), so nothing collects anywhere. */
object Featurize {

  /** Signed hashed token counts for one document: counts(h1(t) mod dim)
    * += sign(t), sign = +1 iff h2(t) is even — h1 = md5 bytes 0–3,
    * h2 = bytes 4–7, same byte-slicing as [[Dedup.bandKeys]]. */
  def hashedCounts(text: String, dim: Int): Array[Long] = {
    require(dim > 0, s"dim must be positive, got $dim")
    val acc = new Array[Long](dim)
    if (text == null) return acc
    val toks = graft.expr.TokenKernel.shingleTokens(text)
    val md = java.security.MessageDigest.getInstance("MD5")
    toks.foreach { t =>
      md.reset()
      val d = md.digest(t.getBytes("UTF-8"))
      val h1 = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
        ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
      val sign = if ((d(7) & 1) == 0) 1L else -1L
      acc((h1 % dim).toInt) += sign
    }
    acc
  }

  /** Scaled-integer L2 normalization: floor(scale·c/√Σc²) per component
    * (floor toward −∞, like SQL floor — components can be negative);
    * the zero vector stays zero. The divide runs in IEEE doubles with a
    * pinned operation order — (scale·c) exact, then one division, one
    * correctly-rounded sqrt — so any engine lands on the same integer. */
  def microNormalize(counts: Seq[Long], scale: Long): Array[Long] = {
    var ss = 0.0
    counts.foreach(c => ss += c.toDouble * c.toDouble)
    if (ss == 0.0) return new Array[Long](counts.length)
    val norm = math.sqrt(ss)
    counts.map(c => math.floor((scale * c).toDouble / norm).toLong).toArray
  }

  private val hashedCountsUdf = udf(hashedCounts _)
  private val microNormalizeUdf =
    udf((c: Seq[Long], s: Long) => microNormalize(c, s))

  def hashedCountsCol(text: Column, dim: Int): Column =
    hashedCountsUdf(text, lit(dim))

  /** (id, counts, embedding_micro, embedding): signed hashed counts, the
    * scaled-integer normalized form (the cross-engine gate), and the
    * double embedding (= micro/scale, an exact integer-by-constant
    * division) ready for the vector stack. */
  def featurize(df: DataFrame, idCol: String, textCol: String,
                dim: Int = 64, scale: Long = 1000000L): DataFrame = {
    require(scale > 0, s"scale must be positive, got $scale")
    df.select(col(idCol).cast("long").as("id"),
        hashedCountsCol(col(textCol), dim).as("counts"))
      .withColumn("embedding_micro",
        microNormalizeUdf(col("counts"), lit(scale)))
      .withColumn("embedding",
        transform(col("embedding_micro"),
          m => m.cast("double") / lit(scale.toDouble)))
  }
}
