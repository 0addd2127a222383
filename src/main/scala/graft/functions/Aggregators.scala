package graft.functions

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator

/** Typed custom-aggregation surface (SURVEY.md §2.8 UDF/UDAF row): the
  * engine's extension point for aggregates Spark lacks, as
  * `Aggregator[IN, BUF, OUT]` — partial-aggregating (map-side combine via
  * `merge`), codegen-encoded buffers, usable as a `TypedColumn` or registered
  * for SQL via `functions.udaf`.
  *
  * The reference's only aggregate-like state is its delivery counters
  * (s12v/awsbeats streams/client.go:87-96); these generalize that "fold a
  * batch to a summary" shape to analytics aggregates.
  */
object Aggregators {

  /** Numerically-stable streaming geometric mean: sums logs in the buffer
    * (a plain product overflows at ~1e308 after ~150 values). */
  object GeoMean extends Aggregator[Double, (Double, Long), Double] {
    override def zero: (Double, Long) = (0.0, 0L)
    override def reduce(b: (Double, Long), x: Double): (Double, Long) =
      if (x > 0) (b._1 + math.log(x), b._2 + 1) else b
    override def merge(a: (Double, Long), b: (Double, Long)): (Double, Long) =
      (a._1 + b._1, a._2 + b._2)
    override def finish(b: (Double, Long)): Double =
      if (b._2 == 0) Double.NaN else math.exp(b._1 / b._2)
    override def bufferEncoder: Encoder[(Double, Long)] =
      Encoders.tuple(Encoders.scalaDouble, Encoders.scalaLong)
    override def outputEncoder: Encoder[Double] = Encoders.scalaDouble
  }

  /** Bounded top-k by (score DESC, id ASC): the partial-aggregating form of
    * per-group top-k ranking. A window-rank plan shuffles EVERY scored row
    * to its group's partition before ranking — |groups| × |candidates| rows
    * over the wire, the scale killer of brute-force/ADC similarity scans. An
    * Aggregator gets map-side combine, so each map partition contributes at
    * most k rows per group to the shuffle regardless of corpus size.
    *
    * Buffer = ascending-sorted vector of ≤ k (score, id) pairs (worst
    * element first — O(k) insert-drop, k is small); ties on score broken by
    * LOWER id winning, matching the `orderBy(score.desc, id)` window the
    * query twins use. Output = (id, score) structs best-first. */
  final class TopKAgg(k: Int)
      extends Aggregator[(Double, Long), Seq[(Double, Long)], Seq[(Long, Double)]] {
    require(k >= 1)
    // (score asc, id desc): head is always the WEAKEST kept entry
    private def lt(a: (Double, Long), b: (Double, Long)): Boolean =
      a._1 < b._1 || (a._1 == b._1 && a._2 > b._2)
    private def insert(b: Seq[(Double, Long)], x: (Double, Long)): Seq[(Double, Long)] =
      if (b.size < k) (b :+ x).sortWith(lt)
      else if (lt(x, b.head)) b
      else (b.tail :+ x).sortWith(lt)
    override def zero: Seq[(Double, Long)] = Vector.empty
    override def reduce(b: Seq[(Double, Long)], x: (Double, Long)): Seq[(Double, Long)] =
      insert(b, x)
    override def merge(a: Seq[(Double, Long)], b: Seq[(Double, Long)]): Seq[(Double, Long)] =
      b.foldLeft(a)(insert)
    override def finish(b: Seq[(Double, Long)]): Seq[(Long, Double)] =
      b.reverse.map { case (score, id) => (id, score) }
    override def bufferEncoder: Encoder[Seq[(Double, Long)]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[(Double, Long)]]()
    override def outputEncoder: Encoder[Seq[(Long, Double)]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[(Long, Double)]]()
  }

  /** Maximal-marginal-relevance selection as ONE partial aggregation — the
    * [[TopKAgg]] bounded-heap discipline extended with the greedy MMR
    * re-rank in `finish`. The round-20 re-plan of
    * [[graft.ext.Similarity.mmrRerank]]: the old plan ranked candidates
    * with a per-query window (full scored frame shuffled), pinned them
    * with a localCheckpoint, then ran k−1 join+agg+window stages — ~14
    * exchanges on a frame of |queries|·nCand rows. This buffer keeps the
    * top-`nCand` candidates per query (map-side combine caps the shuffle
    * at nCand rows per map partition per query) and `finish` replays the
    * greedy selection over ≤ nCand in-memory rows.
    *
    * Bit-exactness contract (the s25 oracle replays every stage):
    *  - candidate set: top-nCand by (rel DESC, id ASC) — the same total
    *    order as the old window's `orderBy(rel.desc, id)`;
    *  - pick 1 maximizes rel, pick j maximizes
    *    `lambda·rel − (1−lambda)·msim` with msim = max dot(u, u_selected);
    *    ties on LOWER id, like the old `orderBy(score.desc, id)` window;
    *  - `dot` is the sequential multiply-add of
    *    [[graft.functions.DotProduct]] (same IEEE accumulation order);
    *  - `1.0 − lambda` is computed ONCE, exactly as the old plan's
    *    `lit(1.0 − lambda)` literal;
    *  - double comparisons use `java.lang.Double.compare` — Spark's
    *    DoubleType ordering (−0.0 < 0.0, NaN greatest), so an exactly-zero
    *    score or msim tie resolves identically.
    * Output = (mmr_rank, id, rel, rawScore) structs in pick order; display
    * rounding stays in the caller's Catalyst projection. */
  final class MmrAgg(k: Int, nCand: Int, lambda: Double)
      extends Aggregator[(Double, Long, Seq[Double]),
        Seq[(Double, Long, Seq[Double])], Seq[(Long, Long, Double, Double)]] {
    require(k >= 1 && nCand >= k && lambda >= 0.0 && lambda <= 1.0)
    // (rel asc, id desc): head is the WEAKEST kept candidate (TopKAgg's rule).
    // Comparison is java.lang.Double.compare — Spark's DoubleType ordering
    // (−0.0 < 0.0, NaN greatest) — matching both the finish-loop comparisons
    // and the old window's orderBy(rel.desc, id): raw </== would leave a NaN
    // rel (zero-norm vector after unitVecs) UNORDERED, diverging from the
    // window contract and risking TimSort's "Comparison method violates its
    // general contract" once the buffer reaches ~32 elements (round-20
    // ADVICE).
    private def lt(a: (Double, Long, Seq[Double]),
        b: (Double, Long, Seq[Double])): Boolean = {
      val c = java.lang.Double.compare(a._1, b._1)
      c < 0 || (c == 0 && a._2 > b._2)
    }
    private def insert(b: Seq[(Double, Long, Seq[Double])],
        x: (Double, Long, Seq[Double])): Seq[(Double, Long, Seq[Double])] =
      if (b.size < nCand) (b :+ x).sortWith(lt)
      else if (lt(x, b.head)) b
      else (b.tail :+ x).sortWith(lt)
    override def zero: Seq[(Double, Long, Seq[Double])] = Vector.empty
    override def reduce(b: Seq[(Double, Long, Seq[Double])],
        x: (Double, Long, Seq[Double])): Seq[(Double, Long, Seq[Double])] =
      insert(b, x)
    override def merge(a: Seq[(Double, Long, Seq[Double])],
        b: Seq[(Double, Long, Seq[Double])]): Seq[(Double, Long, Seq[Double])] =
      b.foldLeft(a)(insert)
    override def finish(b: Seq[(Double, Long, Seq[Double])])
        : Seq[(Long, Long, Double, Double)] = {
      // identical IEEE accumulation to the codegen'd DotProduct expression
      def dot(x: Seq[Double], y: Seq[Double]): Double = {
        val n = math.min(x.length, y.length)
        var s = 0.0
        var i = 0
        while (i < n) { s += x(i) * y(i); i += 1 }
        s
      }
      val oneMinus = 1.0 - lambda
      var remaining = b.reverse.toVector // best-first: (rel desc, id asc)
      var selected = Vector.empty[Seq[Double]]
      val out = Vector.newBuilder[(Long, Long, Double, Double)]
      var rank = 1L
      while (rank <= k && remaining.nonEmpty) {
        var bestIdx = 0
        var bestScore = 0.0
        var first = true
        var i = 0
        while (i < remaining.length) {
          val (rel, id, u) = remaining(i)
          val score =
            if (rank == 1L) rel
            else {
              var msim = Double.NaN
              var msimSet = false
              selected.foreach { su =>
                val d = dot(u, su)
                if (!msimSet || java.lang.Double.compare(d, msim) > 0) {
                  msim = d; msimSet = true
                }
              }
              lambda * rel - oneMinus * msim
            }
          if (first || java.lang.Double.compare(score, bestScore) > 0 ||
              (java.lang.Double.compare(score, bestScore) == 0 &&
                id < remaining(bestIdx)._2)) {
            bestIdx = i; bestScore = score; first = false
          }
          i += 1
        }
        val (rel, id, u) = remaining(bestIdx)
        out += ((rank, id, rel, bestScore))
        selected = selected :+ u
        remaining = remaining.patch(bestIdx, Nil, 1)
        rank += 1L
      }
      out.result()
    }
    override def bufferEncoder: Encoder[Seq[(Double, Long, Seq[Double])]] =
      org.apache.spark.sql.catalyst.encoders
        .ExpressionEncoder[Seq[(Double, Long, Seq[Double])]]()
    override def outputEncoder: Encoder[Seq[(Long, Long, Double, Double)]] =
      org.apache.spark.sql.catalyst.encoders
        .ExpressionEncoder[Seq[(Long, Long, Double, Double)]]()
  }

  /** Per-block SemDeDup drop set as ONE aggregation — the round-21 re-plan
    * of the in-cluster exact-cosine pair stage behind
    * [[graft.ext.DedupOps.cosineDropIds]] (d15/d18/semanticDedup). The old
    * plan self-joined the clustered frame on the block key
    * ([[graft.ext.DedupOps.cosinePairs]]) — every candidate PAIR became a
    * join row carrying BOTH full embedding arrays (two ~512 B payloads per
    * pair, Σ block² pair rows through the join) and the whole clustered
    * subtree was evaluated twice (both self-join sides). This buffer
    * collects each block's (id, vector) rows ONCE — linear bytes, the same
    * rows the join's ONE side already shuffled — and `finish` replays the
    * pair scan over primitive double[]s in id order, with early exit per
    * candidate (a row is dropped at its FIRST lower-id partner ≥ threshold;
    * the join had to enumerate all Σ block² pairs regardless).
    *
    * Bit-exactness contract (the d15/d18 oracle rows replay every drop):
    *  - dot is the sequential multiply-add of
    *    [[graft.functions.DotProduct]] (same IEEE accumulation order over
    *    the common prefix), norms are `Math.sqrt(dot(v,v))` — exactly the
    *    Catalyst `sqrt(graft_dot(v,v))` of the old plan;
    *  - `cosine = dot / (na * nb)` in that operation order; an
    *    overflow-NaN cosine (Inf/Inf) replays exactly, and a ZERO divisor
    *    raises, as the join plan's ANSI division does (Spark 4 default;
    *    zero-norm vectors are out of the embedding contract, so the
    *    failure must stay LOUD, not become a NaN drop). Both plans fail,
    *    but not necessarily at the same pair: the scan stops at a row's
    *    first dropping partner, so it can skip a zero-norm pair the join
    *    would have divided first;
    *  - the threshold test replays Spark's DoubleType `>=`
    *    (`Utils.nanSafeCompareDoubles`): NaN ≥ threshold is TRUE, and
    *    `0.0 >= -0.0` ties exactly like the SQL comparison;
    *  - a pair is (id_a < id_b) by the LONG id — identical to the join
    *    condition; a dropped row still drops later rows (the drop set is
    *    `{b : ∃ a < b, cos(a,b) ≥ θ}`, not a greedy chain) because the old
    *    plan's pair list was computed over ALL members.
    * A null vector neither drops nor is dropped (its cosine is null in the
    * old plan and null fails every threshold); null ELEMENTS inside a
    * vector are out of contract (the engine's embedding columns are
    * null-free by construction — the [[DotProduct]] note).
    *
    * Buffer is block-sized (the rows themselves, once — strictly smaller
    * than the Σ block² pair stream the join materialized); the
    * [[graft.ext.DedupOps.semanticDedupNlist]] sizing rule bounds expected
    * block size at targetClusterSize, so a buffer is ~4096 rows × dim
    * doubles in production. Output = the dropped ids, ascending. */
  final class CosineDropAgg(threshold: Double)
      extends Aggregator[(Long, Seq[Double]), Seq[(Long, Seq[Double])], Seq[Long]] {
    require(!java.lang.Double.isNaN(threshold), "threshold must not be NaN")
    override def zero: Seq[(Long, Seq[Double])] = Vector.empty
    override def reduce(b: Seq[(Long, Seq[Double])],
        x: (Long, Seq[Double])): Seq[(Long, Seq[Double])] = b :+ x
    override def merge(a: Seq[(Long, Seq[Double])],
        b: Seq[(Long, Seq[Double])]): Seq[(Long, Seq[Double])] = a ++ b
    // Spark's DoubleType >= (Utils.nanSafeCompareDoubles(x, t) >= 0):
    // NaN is greatest (and equal to NaN), ±0.0 compare EQUAL (unlike
    // java.lang.Double.compare) — the old plan's Filter semantics.
    private def geqNanSafe(x: Double, t: Double): Boolean =
      if (x > t || x == t) true
      else if (x < t) false
      else java.lang.Double.isNaN(x)
    override def finish(b: Seq[(Long, Seq[Double])]): Seq[Long] = {
      val m = b.toArray.sortBy(_._1) // unique-id total order (ids are PKs)
      val n = m.length
      val vs = new Array[Array[Double]](n)
      val nr = new Array[Double](n)
      var i = 0
      while (i < n) {
        val v = m(i)._2
        if (v != null) {
          val a = v.toArray
          vs(i) = a
          // identical IEEE accumulation to the codegen'd DotProduct
          var s = 0.0
          var d = 0
          while (d < a.length) { s += a(d) * a(d); d += 1 }
          nr(i) = java.lang.Math.sqrt(s)
        }
        i += 1
      }
      val out = Vector.newBuilder[Long]
      var j = 1
      while (j < n) {
        val vj = vs(j)
        if (vj != null) {
          var a = 0
          var dropped = false
          while (a < j && !dropped) {
            val va = vs(a)
            // id guard (not index): duplicate ids must not pair, exactly
            // like the join's id_a < id_b condition
            if (va != null && m(a)._1 < m(j)._1) {
              val len = math.min(va.length, vj.length)
              var s = 0.0
              var d = 0
              while (d < len) { s += va(d) * vj(d); d += 1 }
              val den = nr(a) * nr(j)
              // like the join plan's ANSI division, a zero divisor
              // (zero-norm vector) fails loudly instead of NaN-dropping —
              // possibly at a different pair than the join would name
              if (den == 0.0) throw new ArithmeticException(
                "[DIVIDE_BY_ZERO] cosine norm product is 0 for ids " +
                  s"${m(a)._1}/${m(j)._1} — zero-norm vectors are out of " +
                  "the embedding contract (the join plan's ANSI division " +
                  "raises here too)")
              if (geqNanSafe(s / den, threshold)) dropped = true
            }
            a += 1
          }
          if (dropped) out += m(j)._1
        }
        j += 1
      }
      out.result()
    }
    override def bufferEncoder: Encoder[Seq[(Long, Seq[Double])]] =
      org.apache.spark.sql.catalyst.encoders
        .ExpressionEncoder[Seq[(Long, Seq[Double])]]()
    override def outputEncoder: Encoder[Seq[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Long]]()
  }

  /** Exact streaming range (max − min) with a single (min, max) buffer —
    * demonstrates a buffer type that is not a plain sum. */
  object SpreadAgg extends Aggregator[Double, (Double, Double), Double] {
    override def zero: (Double, Double) = (Double.PositiveInfinity, Double.NegativeInfinity)
    override def reduce(b: (Double, Double), x: Double): (Double, Double) =
      (math.min(b._1, x), math.max(b._2, x))
    override def merge(a: (Double, Double), b: (Double, Double)): (Double, Double) =
      (math.min(a._1, b._1), math.max(a._2, b._2))
    override def finish(b: (Double, Double)): Double =
      if (b._1 > b._2) Double.NaN else b._2 - b._1
    override def bufferEncoder: Encoder[(Double, Double)] =
      Encoders.tuple(Encoders.scalaDouble, Encoders.scalaDouble)
    override def outputEncoder: Encoder[Double] = Encoders.scalaDouble
  }
}
