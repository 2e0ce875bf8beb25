package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Vector math over `ArrayType` embedding columns, built entirely from
  * Catalyst higher-order functions (`zip_with`/`aggregate`/`transform`) —
  * no UDFs, so everything stays inside whole-stage codegen and the
  * expressions are pushed to executors untouched at any scale.
  *
  * Determinism contract: dot products fold strictly left-to-right in
  * double precision (`aggregate` is a sequential fold), which the DuckDB
  * oracle reproduces with `list_sum(list_transform(...))` — verified
  * bit-exact on the test fixtures.
  */
object VectorFunctions {

  /** Sequential-fold dot product (float or double arrays). Delegates to
    * the native [[ArrayDot]] expression: same left-to-right double fold as
    * the higher-order `aggregate` form (bit-identical results), but a
    * codegen'd tight loop instead of per-element interpretation. */
  def dot(a: Column, b: Column): Column = VectorExpressions.array_dot(a, b)

  /** L2 norm. */
  def l2Norm(v: Column): Column = sqrt(dot(v, v))

  /** Cosine similarity given precomputed norms (preferred: compute each
    * vector's norm once, not once per pair). NULL when a norm is zero,
    * as DuckDB's division by zero gives: a try-division, because under
    * ANSI mode a plain `/` raises DIVIDE_BY_ZERO and fails the query. */
  def cosineWithNorms(a: Column, b: Column, na: Column, nb: Column): Column =
    try_divide(dot(a, b), na * nb)

  /** Cosine similarity of two double arrays. */
  def cosine(a: Column, b: Column): Column =
    cosineWithNorms(a, b, l2Norm(a), l2Norm(b))

  /** Deterministic pseudo-random ±1.0 hyperplane components: the murmur3
    * finalizer of the flat index (avalanche mix, exact integer
    * arithmetic — reproducible anywhere).
    *
    * NOT an affine LCG of the index: bit b of `a*i + c mod 2^31` is a
    * quasi-periodic rotation sequence (`a·i mod 2^(b+1)` vs a threshold),
    * and hyperplanes drawn from it are SHIFTED copies of one structured
    * sequence — at lags where the rotation nearly closes, "different"
    * hyperplanes become near-identical and the LSH tables collapse onto
    * each other (the same defect class as the affine MinHash permutations,
    * [[graft.functions.VecOps.minhashSig]]). */
  def signAt(flatIndex: Long): Double =
    if ((graft.functions.VecOps.fmix64(
      flatIndex * 0x9E3779B97F4A7C15L + 0x2545F4914F6CDD1DL) & 1L) == 0L)
      1.0 else -1.0

}
