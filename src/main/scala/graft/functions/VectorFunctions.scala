package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Vector math over `array<float>` embedding columns, as codegen-friendly
  * column expressions (`zip_with` + `aggregate` fold). The fold runs in
  * index order, so results are deterministic and bit-comparable against a
  * sequential oracle; all arithmetic is promoted to double.
  */
object VectorFunctions {

  /** Dot product — the native codegen expression (FloatDot): the
    * index-ordered double arithmetic of a `zip_with` + `aggregate` fold,
    * compiled instead of interpreted per element (SimilaritySpec pins
    * bit-parity with that fold). */
  def dot(a: Column, b: Column): Column =
    org.apache.spark.sql.graft.VectorExpressions.floatDot(a, b)

  def norm2(a: Column): Column = dot(a, a)

  def norm(a: Column): Column = sqrt(norm2(a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Squared L2 distance — cheaper than cosine when vectors are normalized. */
  def l2sq(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => {
        val d = x.cast("double") - y.cast("double")
        d * d
      }),
      lit(0.0),
      (acc, x) => acc + x)

  /** SplitMix64 avalanche — deterministic hyperplane signs computed at PLAN
    * TIME on the driver, so per-row evaluation does zero hashing (the
    * previous form re-derived nPlanes x dim xxhash64 signs per row). */
  private def splitmix64(seed: Long): Long = {
    var z = seed + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** +-1 signs of deterministic hyperplane (`table`, `plane`) over `dim`
    * dimensions. `table` seeds independent LSH hash tables for multi-table
    * banding (recall grows with tables at linear cost). */
  def planeSigns(table: Int, plane: Int, dim: Int): Array[Double] =
    Array.tabulate(dim) { i =>
      if ((splitmix64((table.toLong << 40) ^ (plane.toLong << 20) ^ i.toLong) & 1L) == 0L)
        1.0 else -1.0
    }

  /** Signed projection of a vector onto hyperplane (`table`, `plane`): the
    * signs are a literal array baked into the plan, and the projection is
    * the native codegen dot kernel (FloatDot) — this runs once per plane
    * per corpus row in the ANN bucketing scan, where an interpreted
    * zip_with/aggregate fold was measurable. Bit-identical to the HOF form:
    * ±1 signs are exact in float and the accumulation is the same
    * index-ordered double sum. */
  def planeProjection(vec: Column, table: Int, plane: Int, dim: Int): Column =
    dot(vec, lit(planeSigns(table, plane, dim).map(_.toFloat)))

  /** LSH bucket id from `nPlanes` sign bits (random-hyperplane / SimHash
    * family — approximates cosine similarity neighborhoods). Bucket count is
    * 2^nPlanes: callers must scale nPlanes with corpus size (see
    * Similarity.autoPlanes) or the within-bucket join degenerates to
    * O(n^2 / constant).
    *
    * Native single-kernel form (graft.LshBucket): all planes accumulate in
    * one pass with ONE compact generated loop — the composed per-plane form
    * (one [[planeProjection]] sign bit per plane) blew past the JVM's JIT
    * huge-method limit at auto-scaled plane counts and ran interpreted, 80x
    * slower. Bit-identical to that composition in every case (parity
    * property in SimilaritySpec). */
  def lshBucket(vec: Column, nPlanes: Int, dim: Int, table: Int = 0): Column =
    org.apache.spark.sql.graft.VectorExpressions.lshBucket(vec, table, nPlanes, dim)
}
