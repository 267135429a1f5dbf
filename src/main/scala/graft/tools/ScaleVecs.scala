package graft.tools

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Shared replica transform for synthetic embedding scale-ups
  * ([[MakeScale]]): coordinate rotation
  * composed with a per-replica pseudo-random ±1 sign diagonal.
  *
  * Both factors are orthogonal, so WITHIN a replica every norm, dot
  * product and neighborhood is identical to the original corpus (the
  * isomorphic-replica property the scale benches rely on), while
  * cross-replica directions decorrelate.
  *
  * Why signs and not a longer rotation/negation cycle: rotations alone
  * give only `dim` distinct transforms and the r15/r16 negation cycle
  * only `2·dim` — and the cycle arithmetic itself carried a gcd
  * precondition (ADVICE r16: a rotation step of 7 has period `dim` only
  * when gcd(7, dim) = 1, so a dim-multiple-of-7 corpus re-paired
  * replicas into exact cos=1 twins). A pseudo-random sign vector per
  * replica makes the transform family effectively unbounded with NO
  * precondition on `dim`: two replicas collide only if they share the
  * whole sign pattern (verified distinct at construction, see
  * [[assertDistinct]]) AND the rotation — and a cyclic-shift difference
  * can never be compensated by a ±1 diagonal (a non-identity permutation
  * matrix is not diagonal), so distinct (rotation, signs) pairs are
  * distinct transforms.
  */
object ScaleVecs {

  /** Largest per-row embedding dim the sign tables cover. */
  val MaxDim = 512

  /** splitmix64 — full-avalanche 64-bit mixer (public domain, Steele et
    * al. 2014); bit 37 of the mix of (replica, coordinate) is the sign. */
  private def mix64(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** ±1 sign vector for replica `r` over [[MaxDim]] coordinates; replica
    * 0 is the identity (all +1, matching its identity rotation). */
  def signArray(r: Int): Array[Int] =
    if (r == 0) Array.fill(MaxDim)(1)
    else Array.tabulate(MaxDim) { i =>
      if (((mix64(r.toLong * MaxDim + i) >>> 37) & 1L) == 1L) -1 else 1
    }

  /** Fails fast if any two replicas in [0, k) share their first-64-coord
    * sign pattern (the only way two transforms could coincide for any
    * corpus of dim ≥ 64; expected never — probability ~k²/2⁶⁴). */
  def assertDistinct(k: Int): Unit = {
    val masks = (0 until k).map { r =>
      signArray(r).take(64).zipWithIndex
        .foldLeft(0L) { case (m, (s, i)) => if (s < 0) m | (1L << i) else m }
    }
    require(masks.distinct.size == k,
      s"replica sign patterns collide within k=$k — scale corpus would plant exact twins")
  }

  /** Replica-`r` transform of an embedding column: rotate by
    * `(r * 7) mod dim` positions (any step works now — distinctness
    * comes from the signs), then flip coordinate signs by
    * [[signArray]](r). `dimCol` is the per-row dim, runtime-guarded to
    * [64, [[MaxDim]]]: above MaxDim `element_at(signs, i+1)` would be
    * null and silently force +1 past coordinate 512; below 64
    * [[assertDistinct]]'s 64-coord mask would validate sign bits the
    * corpus doesn't have (ADVICE r17). */
  def replicaTransform(emb: Column, dimCol: Column, r: Int): Column = {
    if (r == 0) emb
    else {
      val guarded = when(
        assert_true(dimCol >= 64 && dimCol <= lit(MaxDim),
          lit(s"ScaleVecs.replicaTransform: dim outside [64, $MaxDim] — " +
            "sign coverage/distinctness guarantees would silently degrade")).isNull,
        dimCol)
      val rot = lit(r * 7) % guarded
      val rotated = when(rot === 0, emb).otherwise(
        concat(slice(emb, rot + 1, guarded - rot), slice(emb, lit(1), rot)))
      val signs = lit(signArray(r))
      // negate-by-branch, not multiply: keeps the element type (float32
      // corpora stay float32 through the transform)
      transform(rotated, (x, i) =>
        when(element_at(signs, i + 1) < 0, -x).otherwise(x))
    }
  }
}
