package graft.mr

import scala.reflect.runtime.universe.TypeTag

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.catalyst.util.QuantileSummaries
import org.apache.spark.sql.expressions.{Aggregator, UserDefinedFunction}
import org.apache.spark.sql.functions.udaf

/** Mergeable summaries — the algebraic fast path for the reference's
  * reduce contract (SURVEY §7.4): mergeable buffers give Spark map-side
  * partial aggregation + spillable hash agg, which the generic
  * `flatMapGroups` contract cannot.
  *
  * A family declares its parameters once and defines only `zero`, `add`
  * and `merge`, plus `store`/`load` when it has a persistable form. Two
  * generic aggregators run every family: [[Summarize]] over input values
  * and [[Fold]] over stored states, each finished by a function (an
  * estimate, a quantile, identity or `store`).
  */
object Aggregators {

  /** A mergeable summary of `IN` values in an `S` buffer; `add` and
    * `merge` may update and return their first argument. */
  trait Summary[IN, S] extends Serializable {
    def zero: S
    def add(s: S, v: IN): S
    def merge(a: S, b: S): S
    def input: Encoder[IN]
    def buffer: Encoder[S]

    /** Typed aggregator over `IN` values, finished by `finish`. */
    def summarize[OUT: TypeTag](finish: S => OUT): Aggregator[IN, S, OUT] =
      new Summarize(this, finish, ExpressionEncoder[OUT]())
    /** [[summarize]] as a column function. */
    def column[OUT: TypeTag](finish: S => OUT): UserDefinedFunction =
      udaf(summarize(finish), input)
  }

  /** A summary with an exportable state `ST`: per-shard/per-day states
    * persist and fold later into one summary without re-scanning the
    * rows behind them — the 100 TB refresh pattern. */
  trait StoredSummary[IN, S, ST] extends Summary[IN, S] {
    def store(s: S): ST
    def load(st: ST): S
    def stored: Encoder[ST]

    /** Column function: the stored state of the input values. */
    def state: UserDefinedFunction = udaf(new Summarize(this, store, stored), input)
    /** Typed aggregator folding stored states, finished by `finish`. */
    def folding[OUT: TypeTag](finish: S => OUT): Aggregator[ST, S, OUT] =
      new Fold(this, finish, ExpressionEncoder[OUT]())
    /** [[folding]] as a column function. */
    def fold[OUT: TypeTag](finish: S => OUT): UserDefinedFunction = udaf(folding(finish), stored)
    /** Column function: the stored state of the folded states. */
    def foldState: UserDefinedFunction = udaf(new Fold(this, store, stored), stored)
  }

  /** Summarizes input values with `family`. */
  final class Summarize[IN, S, OUT](family: Summary[IN, S], fin: S => OUT, out: Encoder[OUT])
      extends Aggregator[IN, S, OUT] {
    def zero: S = family.zero
    def reduce(b: S, v: IN): S = family.add(b, v)
    def merge(a: S, b: S): S = family.merge(a, b)
    def finish(b: S): OUT = fin(b)
    def bufferEncoder: Encoder[S] = family.buffer
    def outputEncoder: Encoder[OUT] = out
  }

  /** Folds stored states of `family`. NULL state rows (empty shards or
    * partitions) are skipped; an all-NULL input finishes the empty
    * summary. States of another geometry fail loudly in `load`/`merge`. */
  final class Fold[S, ST, OUT](family: StoredSummary[_, S, ST], fin: S => OUT, out: Encoder[OUT])
      extends Aggregator[ST, S, OUT] {
    def zero: S = family.zero
    def reduce(b: S, st: ST): S = if (st == null) b else family.merge(b, family.load(st))
    def merge(a: S, b: S): S = family.merge(a, b)
    def finish(b: S): OUT = fin(b)
    def bufferEncoder: Encoder[S] = family.buffer
    def outputEncoder: Encoder[OUT] = out
  }

  /** Bounded top-k (largest values) — the constant-memory per-group
    * alternative to collect_list + sort at scale. Buffer invariant:
    * sorted descending, size ≤ k. */
  final case class TopK(k: Int) extends Summary[Double, Seq[Double]] {
    def zero: Seq[Double] = Vector.empty
    // A full buffer whose minimum already beats v is untouched (the
    // common case on skewed streams); otherwise binary-search the
    // insertion point — O(log k) compares + one O(k) copy, vs the
    // O(k log k) re-sort per row.
    def add(b: Seq[Double], v: Double): Seq[Double] = {
      if (b.size >= k && v <= b.last) b
      else {
        val vec = b.toVector
        var lo = 0
        var hi = vec.size
        while (lo < hi) {
          val mid = (lo + hi) >>> 1
          if (vec(mid) > v) lo = mid + 1 else hi = mid
        }
        val nb = (vec.take(lo) :+ v) ++ vec.drop(lo)
        if (nb.size > k) nb.take(k) else nb
      }
    }
    def merge(a: Seq[Double], b: Seq[Double]): Seq[Double] = b.foldLeft(a)(add)
    def input: Encoder[Double] = Encoders.scalaDouble
    def buffer: Encoder[Seq[Double]] = ExpressionEncoder[Seq[Double]]()
  }

  /** HyperLogLog distinct-count sketch with EXPORTABLE, mergeable register
    * state — what `approx_count_distinct` (whose HLL++ state stays inside
    * the plan) cannot give. Register merge is element-wise max —
    * commutative, associative, idempotent — so shard sketches combine in
    * any order and re-merging a shard is harmless.
    *
    * Standard HLL (Flajolet et al. 2007): p-bit bucket index, rank =
    * leading zeros of the remaining bits + 1, harmonic-mean estimate with
    * the linear-counting small-range correction. Input is a pre-hashed
    * 64-bit value (e.g. `xxhash64(col)`), keeping the sketch
    * type-agnostic. Stored form: one rank per byte (ranks ≤ 64-p+1 ≤ 127).
    */
  final case class Hll(p: Int = 12) extends StoredSummary[Long, Array[Int], Array[Byte]] {
    // the bias constant in `estimate` is only valid for m >= 128 (p >= 7)
    // and p > 18 allocates multi-MB register arrays for no accuracy gain;
    // out-of-range precisions fail loudly instead of silently estimating
    // wrong
    require(p >= 7 && p <= 18, s"HLL precision must be in [7, 18], got $p")
    def zero: Array[Int] = new Array[Int](1 << p)
    def add(b: Array[Int], hash: Long): Array[Int] = {
      val idx = (hash >>> (64 - p)).toInt
      val w = hash << p
      val rank = if (w == 0) 64 - p + 1 else java.lang.Long.numberOfLeadingZeros(w) + 1
      if (rank > b(idx)) b(idx) = rank
      b
    }
    def merge(a: Array[Int], b: Array[Int]): Array[Int] = {
      // folding states of different precision would silently estimate
      // wrong (or throw an opaque AIOOBE) — fail loudly instead
      require(a.length == b.length,
        s"cannot merge HLL states of different precision: ${a.length} vs ${b.length} registers")
      var i = 0
      while (i < a.length) { if (b(i) > a(i)) a(i) = b(i); i += 1 }
      a
    }
    def store(b: Array[Int]): Array[Byte] = b.map(_.toByte)
    def load(bytes: Array[Byte]): Array[Int] = bytes.map(_.toInt)
    def input: Encoder[Long] = Encoders.scalaLong
    def buffer: Encoder[Array[Int]] = ExpressionEncoder[Array[Int]]()
    def stored: Encoder[Array[Byte]] = Encoders.BINARY
  }

  object Hll {
    def estimate(b: Array[Int]): Long = {
      val m = b.length
      val alpha = 0.7213 / (1.0 + 1.079 / m) // bias constant for m >= 128
      var sum = 0.0
      var zeros = 0
      var i = 0
      while (i < m) { sum += math.pow(2.0, -b(i)); if (b(i) == 0) zeros += 1; i += 1 }
      val e = alpha * m * m / sum
      val corrected =
        if (e <= 2.5 * m && zeros > 0) m * math.log(m.toDouble / zeros) // linear counting
        else e
      math.round(corrected)
    }
  }

  /** Count-Min sketch (Cormode & Muthukrishnan 2005) with exportable,
    * mergeable counter state — the frequency-estimation sibling of HLL:
    * persist one d×w counter table per shard/day, fold with element-wise
    * SUM (exact, commutative, associative), query any item's approximate
    * count later without keeping per-item state. Guarantees are
    * one-sided: estimate ≥ true count always (counters only overcount on
    * collisions), and estimate ≤ true + (e/w)·N with probability
    * 1 − e^(−d).
    *
    * Rows use Kirsch–Mitzenmacher double hashing over a pre-hashed 64-bit
    * input: row i indexes at (h₁ + i·h₂) mod w with h₁/h₂ the high/low
    * 32 bits — two independent-enough functions from one hash, and (the
    * real point here) the SAME arithmetic is expressible as Spark column
    * expressions, so estimates read straight out of the stored
    * `array<long>` with `element_at`/`least` — no UDF, no driver lookup
    * (see Sketches q90). The state IS the stored form.
    */
  final case class Cms(d: Int = 7, w: Int = 2048)
      extends StoredSummary[Long, Array[Long], Array[Long]] {
    require(d >= 1 && d <= 16 && w >= 16,
      s"CMS needs 1 <= d <= 16 and w >= 16, got d=$d w=$w")
    def zero: Array[Long] = new Array[Long](d * w)
    /** Row-i counter index of a pre-hashed item — h₁ + i·h₂ stays well
      * under Long overflow (h₁, h₂ < 2³², i < 16). */
    private def index(hash: Long, i: Int): Int = {
      val h1 = hash >>> 32
      val h2 = hash & 0xFFFFFFFFL
      ((h1 + i * h2) % w).toInt
    }
    def add(b: Array[Long], hash: Long): Array[Long] = {
      var i = 0
      while (i < d) { b(i * w + index(hash, i)) += 1L; i += 1 }
      b
    }
    def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
      require(a.length == b.length,
        s"cannot merge CMS states of different geometry: ${a.length} vs ${b.length} counters")
      var i = 0
      while (i < a.length) { a(i) += b(i); i += 1 }
      a
    }
    def estimate(b: Array[Long], hash: Long): Long = {
      var est = Long.MaxValue
      var i = 0
      while (i < d) {
        val c = b(i * w + index(hash, i))
        if (c < est) est = c
        i += 1
      }
      est
    }
    def store(b: Array[Long]): Array[Long] = b
    def load(st: Array[Long]): Array[Long] = st
    def input: Encoder[Long] = Encoders.scalaLong
    def buffer: Encoder[Array[Long]] = ExpressionEncoder[Array[Long]]()
    def stored: Encoder[Array[Long]] = buffer
  }

  /** Greenwald–Khanna quantile sketch — the third leg of the
    * exportable-sketch triad (HLL = distinct, CMS = frequency, GK =
    * quantiles). Wraps Spark's own `QuantileSummaries` (the engine's
    * `percentile_approx` machinery), so the summary is a first-class
    * mergeable value. Stored form: the java serialization of the
    * COMPRESSED summary — a few KB at ε = 0.01, independent of the data
    * size it summarizes.
    *
    * Guarantee: the reported value's RANK is within ε·n of the exact
    * quantile's (Greenwald & Khanna 2001), so the value lies between the
    * exact (q−ε) and (q+ε) percentiles; merging shard summaries keeps a
    * bounded (≤ summed-ε) guarantee. Both laws are asserted in
    * AggregatorsSpec; the q92 oracle hash-pins the error law per group.
    */
  final case class Gk(relErr: Double = 0.01)
      extends StoredSummary[Double, QuantileSummaries, Array[Byte]] {
    def zero: QuantileSummaries =
      new QuantileSummaries(QuantileSummaries.defaultCompressThreshold, relErr)
    def add(b: QuantileSummaries, v: Double): QuantileSummaries = b.insert(v)
    // GK merge requires both sides flushed; insert-after-merge re-buffers
    // safely into the head array, so the Aggregator contract holds
    def merge(a: QuantileSummaries, b: QuantileSummaries): QuantileSummaries =
      a.compress().merge(b.compress())
    def store(s: QuantileSummaries): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      val oos = new java.io.ObjectOutputStream(bos)
      try { oos.writeObject(s.compress()); oos.flush() } finally oos.close()
      bos.toByteArray
    }
    def load(bytes: Array[Byte]): QuantileSummaries = {
      val ois = new java.io.ObjectInputStream(new java.io.ByteArrayInputStream(bytes))
      try ois.readObject().asInstanceOf[QuantileSummaries] finally ois.close()
    }
    def input: Encoder[Double] = Encoders.scalaDouble
    // kryo: the summary is a plain Serializable class, not a product —
    // only sketch-sized state crosses the wire, never row data
    def buffer: Encoder[QuantileSummaries] = Encoders.kryo[QuantileSummaries]
    def stored: Encoder[Array[Byte]] = Encoders.BINARY
  }

  object Gk {
    /** Quantile `q` of a summary; NaN for an empty one. */
    def quantile(q: Double): QuantileSummaries => Double = {
      require(q >= 0.0 && q <= 1.0, s"quantile must be in [0, 1], got $q")
      s => s.compress().query(Seq(q)).map(_.head).getOrElse(Double.NaN)
    }
  }

  /** KMV / bottom-k distinct sketch (Bar-Yossef et al. 2002; Beyer et
    * al. 2007 for the set-algebra use): keeps the k SMALLEST distinct
    * hash values of a set. Unlike HLL registers or MG summaries, the
    * state is a CANONICAL function of the underlying set — the k
    * smallest distinct values do not depend on insertion or merge
    * order — so the union/intersection/Jaccard ESTIMATES derived from
    * two states are deterministic and an external engine can replay
    * them value-for-value (`ORDER BY h LIMIT k` + the same arithmetic),
    * a strictly stronger oracle than an error-law boolean. Feed it
    * 60-bit md5 hashes ([[graft.functions.TextFunctions.hash60]]) for
    * cross-engine hash parity.
    *
    * Estimator: with h₍ₖ₎ the k-th smallest of N distinct hashes in
    * [0, 2⁶⁰), est = (k−1)·2⁶⁰/h₍ₖ₎ (unbiased, rsd ≈ 1/√(k−2)); when
    * the state holds fewer than k values it IS the whole set and the
    * estimate is exact. Buffer invariant: ascending, distinct, ≤ k.
    */
  final case class MinK(k: Int) extends Summary[Long, Seq[Long]] {
    require(k >= 2 && k <= 65536, s"KMV size must be in [2, 65536], got $k")
    def zero: Seq[Long] = Vector.empty
    def add(b: Seq[Long], v: Long): Seq[Long] = {
      if (b.size >= k && v >= b.last) b
      else {
        val vec = b.toVector
        var lo = 0
        var hi = vec.size
        while (lo < hi) {
          val mid = (lo + hi) >>> 1
          if (vec(mid) < v) lo = mid + 1 else hi = mid
        }
        if (lo < vec.size && vec(lo) == v) b // distinct: drop re-inserts
        else {
          val nb = (vec.take(lo) :+ v) ++ vec.drop(lo)
          if (nb.size > k) nb.take(k) else nb
        }
      }
    }
    def merge(a: Seq[Long], b: Seq[Long]): Seq[Long] = b.foldLeft(a)(add)
    def input: Encoder[Long] = Encoders.scalaLong
    def buffer: Encoder[Seq[Long]] = ExpressionEncoder[Seq[Long]]()
  }

  /** Misra–Gries frequent-items summary (Misra & Gries 1982) with the
    * mergeable-summaries merge (Agarwal, Cormode, Huang, Phillips, Wei &
    * Yi, PODS 2012) — the CANDIDATE-DISCOVERY leg of the sketch family.
    * CMS (q90) answers "how often does item x occur" but needs x up
    * front; at 100 TB the exact top-k that supplies those candidates is
    * itself a full token-keyed shuffle. An MG summary finds the heavy
    * hitters in ONE pass with k counters per partition and KB-sized
    * mergeable state, no candidate set required.
    *
    * Summary state: at most k (item, count) pairs plus the total stream
    * length n and the accumulated decrement total E. Worst-case (not
    * probabilistic) guarantees, preserved under ANY merge order:
    *   - count(x) <= true(x)                       (decrements only lose)
    *   - true(x) - count(x) <= E  (absent => count 0), i.e. every item
    *     with true(x) > E is present in the summary
    *   - E <= n / (k + 1)         (each decrement round absorbs k+1 items)
    * Because the laws are worst-case they hold regardless of Spark's
    * nondeterministic partial-merge order — which is what lets q125 pin
    * them in a hash-compared oracle even though the summary CONTENT is
    * merge-order-dependent (only exact values and law booleans are
    * output, never raw summary state). Folding stored states keeps the
    * same laws: error bounds SUM across folds and stay <= n/(k+1).
    *
    * Stored form `[ n | err | size | h0 c0 h1 c1 … | k ]`, items sorted by
    * (count desc, hash) so the artifact is canonical for a GIVEN summary.
    * The summary's own k rides as the TRAILING element (after the items,
    * so every positional header/item parse — q125's and q137's column
    * folds — is unaffected): `load` requires it to equal the family's k,
    * making a cross-k fold fail loudly even when the state happens to
    * hold fewer than k items (ADVICE r10).
    */
  final case class MisraGries(k: Int)
      extends StoredSummary[Long, MisraGries.Counters, Seq[Long]] {
    import MisraGries.Counters
    require(k >= 1 && k <= 65536, s"MG summary size must be in [1, 65536], got $k")
    def zero: Counters = new Counters(k)
    def add(s: Counters, h: Long): Counters = s.update(h)
    def merge(a: Counters, b: Counters): Counters = a.absorb(b)
    def store(s: Counters): Seq[Long] = {
      val items = s.m.entrySet().toArray(Array.empty[java.util.Map.Entry[Long, Array[Long]]])
        .sortBy(e => (-e.getValue()(0), e.getKey))
      val out = new Array[Long](4 + 2 * items.length)
      out(0) = s.n; out(1) = s.err; out(2) = items.length.toLong
      var i = 0
      while (i < items.length) {
        out(3 + 2 * i) = items(i).getKey
        out(4 + 2 * i) = items(i).getValue()(0)
        i += 1
      }
      out(out.length - 1) = k.toLong
      out.toSeq
    }
    def load(st: Seq[Long]): Counters = {
      require(st.length >= 4 && st.length == 4 + 2 * st(2).toInt,
        s"malformed MG state: length ${st.length}, declared size ${if (st.length >= 3) st(2) else -1}")
      require(st.last == k.toLong,
        s"stored MG state was built with k=${st.last}, cannot fold at k=$k")
      val s = new Counters(k)
      s.n = st(0); s.err = st(1)
      var i = 0
      while (i < st(2).toInt) {
        s.m.put(st(3 + 2 * i), Array(st(4 + 2 * i)))
        i += 1
      }
      require(s.m.size <= k, s"stored MG state holds ${s.m.size} items > k=$k")
      s
    }
    def input: Encoder[Long] = Encoders.scalaLong
    // kryo: only O(k) state crosses the wire, never row data
    def buffer: Encoder[Counters] = Encoders.kryo[Counters]
    def stored: Encoder[Seq[Long]] = ExpressionEncoder[Seq[Long]]()
  }

  object MisraGries {
    /** Mutable summary buffer: ≤ k counters, stream length, error. */
    final class Counters(val k: Int) extends Serializable {
      var n: Long = 0L
      var err: Long = 0L // total decrement applied to every true count
      val m = new java.util.HashMap[Long, Array[Long]](k * 2)

      def update(h: Long): this.type = {
        n += 1
        val c = m.get(h)
        if (c != null) c(0) += 1
        else if (m.size < k) m.put(h, Array(1L))
        else {
          // decrement round: the incoming item and every counter each
          // give up one — k+1 stream items absorbed per unit of err
          err += 1
          val it = m.values.iterator()
          while (it.hasNext) { val v = it.next(); v(0) -= 1 }
          m.values.removeIf(_(0) == 0L)
        }
        this
      }

      /** Mergeable-summaries merge: pointwise-sum the counters, then if
        * more than k survive subtract the (k+1)-th largest count from
        * all and drop the non-positive — error grows by exactly that
        * subtrahend, keeping true(x) - count(x) <= E_a + E_b + s <=
        * (n_a + n_b) / (k + 1) (Agarwal et al. 2012, Thm 2.1). */
      def absorb(o: Counters): this.type = {
        require(o.k == k, s"cannot merge MG summaries of different k: $k vs ${o.k}")
        n += o.n
        err += o.err
        val it = o.m.entrySet().iterator()
        while (it.hasNext) {
          val e = it.next()
          val mine = m.get(e.getKey)
          if (mine != null) mine(0) += e.getValue()(0)
          else m.put(e.getKey, Array(e.getValue()(0)))
        }
        if (m.size > k) {
          val counts = new Array[Long](m.size)
          var i = 0
          val vs = m.values.iterator()
          while (vs.hasNext) { counts(i) = vs.next()(0); i += 1 }
          java.util.Arrays.sort(counts)
          val s = counts(m.size - k - 1) // (k+1)-th largest
          err += s
          val es = m.values.iterator()
          while (es.hasNext) { val v = es.next(); v(0) -= s }
          m.values.removeIf(_(0) <= 0L)
        }
        this
      }
    }
  }

  /** Exact-integer first/second moments of a dim-dimensional embedding
    * column — the input to a covariance matrix, as ONE mergeable buffer.
    *
    * Every accumulated term is `floor(value × 2^40)` as a BIGINT:
    * float-origin doubles multiply exactly (24-bit × 24-bit mantissas fit
    * a double), the 2^40 scale is a lossless exponent shift, and integer
    * sums are aggregation-order-independent — so the finished moments are
    * bit-identical at any parallelism AND replayable by an external
    * engine (the q53/q103 exactness scheme, extended to products).
    *
    * Buffer layout (summarizing and folding alike):
    * `[ n | Sx(0..d-1) | upper-triangle ΣSxy row-major (d(d+1)/2) ]` —
    * d(d+1)/2 multiply-adds per row, ~8·(1+d+d(d+1)/2) bytes (17 KB at
    * d=64) per partition. Element-wise BIGINT addition is the merge, so a
    * fold of persisted shards is bit-identical to a single pass over the
    * union of their rows (SimilaritySpec pins this; q109 pins it against
    * q104's oracle).
    *
    * Stored form expands the triangle to the FULL row-major d×d matrix,
    * `[ n | Sx(d) | Sxy(d·d) ]`, so a consumer derives (i, j) from a
    * flat position with pure integer arithmetic (p DIV d, p MOD d), which
    * an oracle can replay without inverting triangle indexing.
    */
  final case class Moments(dim: Int) extends StoredSummary[Seq[Double], Array[Long], Seq[Long]] {
    require(dim >= 1, s"dim must be positive, got $dim")
    private val scale = 1099511627776.0 // 2^40
    def zero: Array[Long] = new Array[Long](1 + dim + dim * (dim + 1) / 2)
    def add(b: Array[Long], v: Seq[Double]): Array[Long] = {
      require(v.length == dim, s"expected $dim dims, got ${v.length}")
      val a = v.toArray
      b(0) += 1L
      var i = 0
      var t = 1 + dim
      while (i < dim) {
        b(1 + i) += math.floor(a(i) * scale).toLong
        var j = i
        while (j < dim) {
          b(t) += math.floor(a(i) * a(j) * scale).toLong
          t += 1; j += 1
        }
        i += 1
      }
      b
    }
    def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
      var i = 0
      while (i < a.length) { a(i) += b(i); i += 1 }
      a
    }
    def store(b: Array[Long]): Seq[Long] = {
      val out = new Array[Long](1 + dim + dim * dim)
      System.arraycopy(b, 0, out, 0, 1 + dim)
      var i = 0
      var t = 1 + dim
      while (i < dim) {
        var j = i
        while (j < dim) {
          out(1 + dim + i * dim + j) = b(t)
          out(1 + dim + j * dim + i) = b(t)
          t += 1; j += 1
        }
        i += 1
      }
      out.toSeq
    }
    def load(st: Seq[Long]): Array[Long] = {
      require(st.length == 1 + dim + dim * dim,
        s"stored moments state must have ${1 + dim + dim * dim} entries (dim=$dim), got ${st.length}")
      val full = st.toArray
      val b = zero
      System.arraycopy(full, 0, b, 0, 1 + dim)
      var i = 0
      var t = 1 + dim
      while (i < dim) {
        System.arraycopy(full, 1 + dim + i * dim + i, b, t, dim - i)
        t += dim - i
        i += 1
      }
      b
    }
    def input: Encoder[Seq[Double]] = ExpressionEncoder[Seq[Double]]()
    def buffer: Encoder[Array[Long]] = ExpressionEncoder[Array[Long]]()
    def stored: Encoder[Seq[Long]] = ExpressionEncoder[Seq[Long]]()
  }
}
