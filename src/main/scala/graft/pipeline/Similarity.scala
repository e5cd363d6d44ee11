package graft.pipeline

import graft.expr.Distances
import graft.vector.FlatKnn
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor similarity search over an embedding column.
  *
  * Baseline: exact brute-force cosine top-k ([[FlatKnn]] — the correctness
  * oracle). Scale path: random-hyperplane LSH — signature computation is a
  * per-row expression, candidate generation is an equi-join on (bucket),
  * and the quadratic verify runs only inside buckets. At 100 TB the bucket
  * join replaces the O(n·q) cross join with O(matching-bucket rows).
  * (IVF partition-pruned search in [[graft.vector.Ivf]] is the other scale
  * path — cluster-pruned instead of hash-bucketed.)
  */
object Similarity {

  /** Deterministic hyperplanes from a CLOSED-FORM hash — not a JVM RNG
    * stream — so the whole LSH pipeline (plane values → sign signatures →
    * multi-probe buckets → cosine verify) is reproducible by any engine
    * from the formula alone (the SQL correctness oracle recomputes it
    * verbatim). Values are multiples of 2^-10 in [-1, 1): exactly
    * representable in float AND double, so no cross-engine cast can
    * perturb a dot product's sign. `seed` offsets the hash stream. */
  private def planes(nPlanes: Int, dim: Int, seed: Long): Array[Array[Float]] =
    Array.tabulate(nPlanes)(p => Array.tabulate(dim) { j =>
      val h = ((p.toLong + seed) * 7919L + j.toLong * 104729L) * 2654435761L % 2048L
      (h.toDouble / 1024.0 - 1.0).toFloat
    })

  /** Random-hyperplane LSH: bucket = sign-bit signature of `nPlanes` dot
    * products; queries probe their own bucket plus all Hamming-1 neighbor
    * buckets, then exact cosine re-ranks within the candidate set. */
  def lshCosine(data: DataFrame, queries: DataFrame, k: Int,
                nPlanes: Int = 8, seed: Long = 42L): DataFrame = {
    val dim = data.select(size(col("vector"))).head().getInt(0)
    val ps = planes(nPlanes, dim, seed)
    // data-side signature: codegen'd kernel, one static call per ingested
    // row (the scan side is the hot path; the query side is k rows)
    val bucketed = data.withColumn("bucket",
      graft.expr.CentroidKernels.signLsh(col("vector"), ps))
    // query probes: own bucket + hamming-1 neighbors (multi-probe LSH)
    val sigQ = graft.expr.CentroidKernels.signLsh(col("qvec"), ps)
    val qProbes = queries
      .select(col("qid"), col("qvec"), sigQ.as("sig"))
      .select(col("qid"), col("qvec"),
        explode(array((0 until nPlanes).map(b =>
          col("sig").bitwiseXOR(lit(1 << b))) :+ col("sig"): _*)).as("bucket"))
    val scored = bucketed
      .join(broadcast(qProbes), "bucket")
      .select(col("qid"), col("id"),
        Distances.cosine(col("vector"), col("qvec")).as("score"))
    FlatKnn.topKPerQuery(scored, k, ascending = true)
  }
}
