package graft.functions

/** Random-hyperplane LSH planes and banding rules for `array<float>`
  * embedding columns, with their DuckDB SQL mirrors. The vector math
  * itself (dot, norm, cosine, band signatures) is the native kernels
  * in [[graft.plans.VectorExpressions]].
  */
object Vectors {

  /** Integer components of `nPlanes` deterministic pseudo-random
    * hyperplanes for random-hyperplane (angular) LSH: component
    * `(seed, i)` is `md5("seed:i")`'s first 8 hex chars as an unsigned
    * int, mod 100000, shifted to [-50000, 49999]. md5-derived so the
    * DuckDB oracle rebuilds the identical planes from SQL alone
    * (`sqlHyperplaneCte` below); integer-valued so band bits come from
    * the sign of an INTEGER dot product with the floor-quantized
    * vector — bit-for-bit portable, no FP accumulation-order hazard.
    */
  def hyperplaneWeights(nPlanes: Int, dim: Int): Array[Array[Long]] =
    Array.tabulate(nPlanes) { seed =>
      val md = java.security.MessageDigest.getInstance("MD5")
      Array.tabulate(dim) { i =>
        val h = md.digest(s"$seed:$i".getBytes("UTF-8"))
        val u32 = ((h(0) & 0xffL) << 24) | ((h(1) & 0xffL) << 16) |
          ((h(2) & 0xffL) << 8) | (h(3) & 0xffL)
        u32 % 100000L - 50000L
      }
    }

  /** The corpus-adaptive bits-per-band rule shared by
    * [[graft.operators.DedupOps.dedupEmbedding]] and its oracle:
    * enough bits that the expected band-bucket occupancy stays near
    * `target` (2^bits ∝ n keeps candidate volume LINEAR in corpus
    * size; any static bits is n²/2^bits — quadratic). The 1e-9 slack
    * inside the ceil keeps the two engines' float log2 from straddling
    * an integer boundary when n/target is an exact power of two.
    */
  def adaptiveBits(n: Long, minBits: Int, target: Int): Int =
    math.max(minBits,
      math.ceil(math.log(math.max(n, 1L).toDouble / target) / math.log(2.0) - 1e-9).toInt)

  /** Hard ceiling of the SQL mirror's plane pool:
    * [[sqlHyperplaneSigsCteAdaptive]] generates seeds from a fixed
    * `bands × MaxSqlAdaptiveBits` range and truncates with a WHERE, so
    * an adaptive bits beyond the pool would silently misalign the
    * `seed // bits` band packing between the engines. 2^20 buckets
    * ≈ 52M vectors at target 50; raise BOTH sides together to go past.
    */
  val MaxSqlAdaptiveBits = 20

  /** [[adaptiveBits]] guarded against the SQL mirror's plane-pool
    * ceiling — every operator whose oracle uses
    * [[sqlHyperplaneSigsCteAdaptive]] must size its banding through
    * THIS entry point, so the divergence fails loudly with the cause
    * named instead of surfacing as an unexplained oracle mismatch.
    */
  def adaptiveBitsSqlSafe(n: Long, minBits: Int, target: Int): Int = {
    val b = adaptiveBits(n, minBits, target)
    require(b <= MaxSqlAdaptiveBits,
      s"adaptive banding needs $b bits for n=$n (target=$target), but the SQL " +
        s"mirror's plane pool stops at $MaxSqlAdaptiveBits bits/band " +
        "(Vectors.sqlHyperplaneSigsCteAdaptive); raise MaxSqlAdaptiveBits and " +
        "the SQL pool together")
    b
  }

  /** [[sqlHyperplaneSigsCte]] with the [[adaptiveBits]] rule computed
    * IN SQL from `src`'s row count — the oracle stays a pure mirror of
    * the data-dependent banding with no value baked in.
    */
  def sqlHyperplaneSigsCteAdaptive(src: String, bands: Int, dim: Int,
      minBits: Int, target: Int, cntSrc: String = ""): String =
    s"""prm AS (
       |  SELECT greatest($minBits,
       |           CAST(ceil(log2(greatest(count(*), 1) / $target.0) - 1e-9) AS INT)) bits
       |  FROM ${if (cntSrc.nonEmpty) cntSrc else src}
       |), qv AS (
       |  SELECT vec_id, list_transform(range(0, $dim),
       |           i -> CAST(floor(embedding[i + 1]::DOUBLE * 1000000) AS BIGINT)) q
       |  FROM $src
       |), planes AS (
       |  -- range() cannot take a subquery bound; generate to the fixed
       |  -- MaxSqlAdaptiveBits ceiling (the Scala side fails loudly via
       |  -- adaptiveBitsSqlSafe before bits can exceed it) and filter
       |  -- to the adaptive count
       |  SELECT t.seed, list_transform(range(0, $dim),
       |           i -> (('0x' || substr(md5(t.seed || ':' || i), 1, 8))::BIGINT % 100000) - 50000) w
       |  FROM range(0, $bands * $MaxSqlAdaptiveBits) t(seed)
       |  WHERE t.seed < $bands * (SELECT bits FROM prm)
       |), pbits AS (
       |  SELECT qv.vec_id, p.seed,
       |         CASE WHEN CAST(list_sum(list_transform(range(0, $dim),
       |                    i -> qv.q[i + 1] * p.w[i + 1])) AS BIGINT) >= 0 THEN 1 ELSE 0 END bt
       |  FROM qv CROSS JOIN planes p
       |), sigs AS (
       |  SELECT vec_id, seed // (SELECT bits FROM prm) band,
       |         CAST(sum(bt << (seed % (SELECT bits FROM prm))) AS BIGINT) sig
       |  FROM pbits GROUP BY 1, 2
       |)""".stripMargin

  /** DuckDB CTE mirroring [[hyperplaneWeights]] +
    * [[graft.plans.VectorExpressions.hyperplaneSigsCompute]]: emits
    * `sigs(vec_id, band, sig)` for table alias `src`(vec_id, embedding)
    * with `bands × bitsPerBand` planes over `dim` dimensions.
    */
  def sqlHyperplaneSigsCte(src: String, bands: Int, bitsPerBand: Int, dim: Int): String =
    s"""qv AS (
       |  SELECT vec_id, list_transform(range(0, $dim),
       |           i -> CAST(floor(embedding[i + 1]::DOUBLE * 1000000) AS BIGINT)) q
       |  FROM $src
       |), planes AS (
       |  SELECT t.seed, list_transform(range(0, $dim),
       |           i -> (('0x' || substr(md5(t.seed || ':' || i), 1, 8))::BIGINT % 100000) - 50000) w
       |  FROM range(0, ${bands * bitsPerBand}) t(seed)
       |), pbits AS (
       |  SELECT qv.vec_id, p.seed,
       |         CASE WHEN CAST(list_sum(list_transform(range(0, $dim),
       |                    i -> qv.q[i + 1] * p.w[i + 1])) AS BIGINT) >= 0 THEN 1 ELSE 0 END bt
       |  FROM qv CROSS JOIN planes p
       |), sigs AS (
       |  SELECT vec_id, seed // $bitsPerBand band,
       |         CAST(sum(bt << (seed % $bitsPerBand)) AS BIGINT) sig
       |  FROM pbits GROUP BY 1, 2
       |)""".stripMargin
}
