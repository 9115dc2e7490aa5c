package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.{call_function, lit, udf}

import graft.kernel._

/** Spark column functions wrapping the analiticcl-semantics kernel
  * (SURVEY.md §2.2 P1-P10). The per-row transforms (normalization,
  * anagram value, case class, DL) are deterministic scalar UDFs closing
  * over a (tiny, immutable) alphabet — Catalyst treats them as
  * deterministic, so they are pushed/pruned normally; the dedup
  * pipeline evaluates them once per row, upstream of the pair loop. The
  * per-pair verify decision is the native codegen [[PairAccept]]
  * expression ([[pairAccept]]).
  *
  * Where a pure-builtin equivalent exists (shingles, minhash, exact
  * hashes...) we use builtins instead — see [[TextFns]].
  */
final class Kernels(alphabet: Alphabet) extends Serializable {

  /** P1: normalized form as space-joined class indices (string form keeps
    * the column oracle-comparable; the dedup pipeline's internal hot path
    * passes norm arrays directly between kernel UDFs instead).
    */
  val normStr: Column => Column = {
    val f = udf { (s: String) =>
      Option(s).map(x => alphabet.normalize(x).mkString(" "))
    }
    (c: Column) => f(c)
  }

  /** P2: anagram value as a decimal string (unbounded product of primes;
    * decimal-string form is oracle-comparable, the pipeline's internal
    * form is canonical bytes via [[graft.kernel.AnaHash.toBytes]]).
    */
  val anahashStr: Column => Column = {
    val f = udf { (s: String) =>
      Option(s).map(x => alphabet.anahash(x).toString)
    }
    (c: Column) => f(c)
  }

  /** P1 (internal form): normalized text as a compact string — one char
    * per alphabet-class index (codepoint 33 + idx, collision-free for
    * alphabets up to 168 classes). The dedup pipeline shingles THIS, so
    * shingle identity == normalized-class n-gram identity, exactly the
    * reference's alphabet semantics.
    */
  val normKey: Column => Column = {
    val f = udf { (s: String) =>
      Option(s).map(x => Kernels.toNormKey(alphabet.normalize(x)))
    }
    (c: Column) => f(c)
  }

  /** P6: full Damerau-Levenshtein over normalized forms; -1 = exceeded
    * max (the DL feature of the verify score). Computed via the banded
    * zero-allocation [[Distances.dlChars]] over the compact normKey
    * rendering (one char per class index — identical integers to the
    * parity matrix implementation, pinned by DistancesPropSpec's 20k-case
    * equivalence property).
    */
  def damerau(a: Column, b: Column, maxDistance: Int): Column = {
    val f = udf { (x: String, y: String) =>
      if (x == null || y == null) -1
      else Distances.dlChars(Kernels.toNormKey(alphabet.normalize(x)),
        Kernels.toNormKey(alphabet.normalize(y)), maxDistance)
    }
    f(a, b)
  }

  /** First-char case class for the precomputed-kernel path:
    * 0 = lowercase, 1 = not lowercase, 2 = empty text (reference case
    * semantics: empty side => sameCase true, lib.rs:1367-1377).
    */
  val caseClass: Column => Column = {
    val f = udf { (s: String) =>
      if (s == null || s.isEmpty) 2.toByte
      else if (Character.isLowerCase(s.codePointAt(0))) 0.toByte
      else 1.toByte
    }
    (c: Column) => f(c)
  }

  /** The dedup verify FILTER over PRECOMPUTED normKey strings + case
    * classes: the native codegen [[PairAccept]] expression (`pair_accept`,
    * registered by [[graft.spark.GraftExtensions]]), exactly
    * `KernelExprs.pairScoreMax(...) >= threshold` with a null score a
    * reject, decided without the exact-LCS DP whenever the score bounds
    * already settle it (most pairs; see [[KernelExprs.pairAccept]]).
    * Norm/case are computed once per row upstream and reused across
    * every candidate pair the row appears in.
    */
  def pairAccept(normA: Column, normB: Column, caseA: Column, caseB: Column,
      maxEditDistance: Int, threshold: Double,
      weights: Weights = Weights()): Column =
    call_function("pair_accept", normA, normB, caseA, caseB,
      lit(maxEditDistance), lit(weights.ld), lit(weights.lcs),
      lit(weights.prefix), lit(weights.suffix), lit(weights.caseW),
      lit(threshold))
}

object Kernels {
  lazy val test = new Kernels(Alphabet.test)
  lazy val simpleLatin = new Kernels(Alphabet.simpleLatin)

  /** Compact one-char-per-class rendering of a normalized form (codepoint
    * 33 + class index; collision-free for alphabets up to 168 classes).
    */
  private[functions] def toNormKey(n: Array[Int]): String = {
    val sb = new java.lang.StringBuilder(n.length)
    var i = 0
    while (i < n.length) { sb.append((33 + n(i)).toChar); i += 1 }
    sb.toString
  }
}
