package graft.fixtures

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.functions.Fp16

/** Deterministic 3072-dim corpus with LOW INTRINSIC DIMENSION — the data
  * shape real embedding models emit, and the complement to
  * [[Fp16Corpus]]'s quasi-uniform mix.
  *
  * [[Fp16Corpus]] draws every component independently, which puts the
  * corpus quasi-uniformly on the 3072-dim sphere: pairwise cosines
  * concentrate at 0 ± 1/sqrt(3072) ≈ 0.018, a greedy graph walk gets no
  * gradient, and the r13 serving ladder measured graph/hnsw recall@10 ≤
  * 0.035 there (SCALE.md §r13) — the structural worst case for
  * navigation, and equally far from real embeddings, whose intrinsic
  * dimension is far below their ambient width.
  *
  * Here every vector is a point on an `L`-dim linear manifold plus small
  * full-dim noise:
  *
  *   vec(v) = (1/sqrt(L)) * Σ_j z_j(v) · basis_j  +  noise · ε(v)
  *
  * Pairwise cosine now tracks the latent inner product (contrast
  * ~1/sqrt(L), not 1/sqrt(3072)): nearest neighbors are meaningfully
  * nearer than random pairs, navigation has a gradient, and graph-ANN
  * can be priced on data where it is SUPPOSED to work. `noise`
  * (component scale relative to the manifold's) bounds how far
  * off-manifold points sit; the default 0.1 perturbs cosines by ~3% —
  * realistic residual, not structure.
  *
  * Randomness is splitmix64 (Steele et al., "Fast splittable
  * pseudorandom number generators", OOPSLA'14 — public constants), NOT
  * [[Fp16Corpus.mix]]: the mix is AFFINE in vecId, so an L-component
  * latent drawn from it degenerates onto a 1-dimensional lattice orbit
  * (measured: the kNN graph became a ring of arithmetic progressions
  * with diameter ~n/degree — unwalkable, and nothing like a manifold).
  * The 3072-component uniform fixture tolerates that affinity; a
  * 8-component latent does not. splitmix64 is bit-deterministic
  * everywhere, which is all this fixture needs — it is a MEASUREMENT
  * fixture (ConcurrencyProbe); the oracle-gated queries
  * stay on the driver-generated testdata tables, and nothing here needs
  * SQL reproduction.
  */
object ManifoldCorpus {

  val Dim = 3072

  // splitmix64 — the public finalizer constants
  private def h64(x0: Long): Long = {
    var x = x0 + 0x9E3779B97F4A7C15L
    x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
    x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
    x ^ (x >>> 31)
  }

  /** Uniform in [-1, 1], 53-bit mantissa, from a keyed hash. */
  private def unit(key: Long): Double =
    (h64(key) >>> 11).toDouble / (1L << 52).toDouble - 1.0

  // Disjoint key planes: latent, basis, and noise never share a key.
  private val LatentSalt = 0x4C41544E544C5341L
  private val BasisSalt = 0x4241534953534C54L
  private val NoiseSalt = 0x4E4F495345534C54L

  /** Latent coordinates z(v) ∈ [-1, 1]^L. */
  def latent(vecId: Long, l: Int): Array[Double] =
    Array.tabulate(l)(j => unit(LatentSalt ^ (vecId * 64L + j)))

  /** Basis column j — one fixed 3072-dim direction per latent axis. */
  private def basisColumn(j: Int): Array[Double] =
    Array.tabulate(Dim)(i => unit(BasisSalt ^ (j.toLong << 32) ^ i.toLong))

  // A basis is a few KB per column; memoize per (JVM, L) so executor
  // threads share one copy instead of re-hashing 3072·L keys per row.
  private val basisCache =
    new java.util.concurrent.ConcurrentHashMap[Int, Array[Array[Double]]]()
  private def basis(l: Int): Array[Array[Double]] =
    basisCache.computeIfAbsent(l, _ => Array.tabulate(l)(basisColumn))

  /** The full-precision vector for `vecId` (queries probe with this; the
    * stored corpus row is its fp16 rounding — the [[Fp16Corpus.probe]]
    * relationship). */
  def vector(vecId: Long, l: Int = 8, noise: Double = 0.1): Array[Float] = {
    val z = latent(vecId, l)
    val b = basis(l)
    val inv = 1.0 / math.sqrt(l.toDouble)
    val a = new Array[Float](Dim)
    var i = 0
    while (i < Dim) {
      var s = 0.0
      var j = 0
      while (j < l) { s += z(j) * b(j)(i); j += 1 }
      a(i) = (s * inv +
        noise * unit(NoiseSalt ^ (vecId * Dim.toLong + i))).toFloat
      i += 1
    }
    a
  }

  /** Materialized `(vec_id BIGINT, emb16 BINARY)` fixture of `n` rows —
    * [[Fp16Corpus.prepared]]'s write-once/cache contract, keyed by
    * (n, L, noise) so fixture variants never collide. */
  def prepared(spark: SparkSession, n: Long, l: Int = 8,
      noise: Double = 0.1): DataFrame = {
    val path = s"${Fp16Corpus.workRoot}/manifoldcorpus-n$n-l$l-s$noise.parquet"
    if (!new File(path, "_SUCCESS").isFile) {
      import spark.implicits._
      spark.range(n)
        .mapPartitions(_.map(vid => (vid, Fp16.encode(vector(vid, l, noise)))))
        .toDF("vec_id", "emb16")
        .write.mode("overwrite").parquet(path)
    }
    spark.read.parquet(path).cache()
  }
}
