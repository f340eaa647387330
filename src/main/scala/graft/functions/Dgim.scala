package graft.functions

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator

/** DGIM (Datar–Gionis–Indyk–Motwani, "Maintaining Stream Statistics over
  * Sliding Windows", SIAM J. Comput. 2002): approximate count of 1-bits in
  * the last W time units of a bit stream using O(log² W) space.
  *
  * Semantics mirror the reference engine (cited file:line, not copied):
  *  - bucket = (timestamp seconds, size), newest first; each 1-bit inserts
  *    a size-1 bucket, then any 3 equal-size buckets merge the middle two
  *    (middle timestamp kept, size doubled)
  *    — /root/reference/src/main/java/com/bencejdanko/flink/DGIMAccumulator.java:129-160
  *  - buckets expire when latest - ts >= W — DGIMAccumulator.java:167-176
  *  - estimate = all bucket sizes except the oldest + a half of the oldest;
  *    the Java flagship rounds UP (ceil, DGIMAccumulator.java:75-95), the
  *    PyFlink variant rounds DOWN (size // 2, /root/reference/src/usrcode/
  *    job.py:37-46). Both published semantics are exposed via the
  *    `roundUp` flag on [[State.estimate]]; the flagship's round-up is the
  *    default everywhere.
  *
  * Hot-path design: the per-row add runs entirely on primitive Long
  * arrays (System.arraycopy insert/compact, no boxing, no ArrayBuffer) —
  * this is the inner loop of the streaming DGIM aggregation, executed
  * once per 1-bit message.
  */
object Dgim {

  /** Mergeable, Encoder-friendly DGIM state. `ts` and `size` are parallel
    * arrays, newest first.
    */
  case class State(windowSeconds: Long, latest: Long, ts: Array[Long], size: Array[Long]) {
    /** Flagship (round-up) estimate — DGIMAccumulator.java:75-95. */
    def estimate: Long = estimate(roundUp = true)

    /** `roundUp = true`: oldest bucket contributes ceil(size/2) (Java
      * flagship); `false`: floor(size/2) (PyFlink variant, job.py:37-46).
      *
      * Single-live-bucket case: the Java flagship returns that bucket's
      * FULL size (DGIMAccumulator.java:72-75); the PyFlink variant has no
      * special case and still floors it (job.py:37-46). Internally built
      * states always have a newest bucket of size 1, where both forms
      * coincide — the early return matters for externally constructed /
      * deserialized states, which must follow the published semantics too.
      */
    def estimate(roundUp: Boolean): Long = estimateAt(latest, roundUp)

    /** Estimate with the live-window cutoff taken at an EXTERNAL `now`
      * instead of this state's own latest — what a multi-instance sketch
      * (the §5 sum decomposition) needs: an instance whose bit was not
      * set by recent values has a stale `latest`, and evaluating it
      * there would count buckets the global clock has already expired.
      */
    def estimateAt(now: Long, roundUp: Boolean): Long = {
      // live prefix: buckets are newest-first; stop at the first expired
      var m = 0
      while (m < ts.length && now - ts(m) < windowSeconds) m += 1
      if (m == 0) 0L
      else if (m == 1 && roundUp) size(0)
      else {
        var total = 0L
        var i = 0
        while (i < m - 1) { total += size(i); i += 1 }
        total + (if (roundUp) (size(m - 1) + 1) / 2 else size(m - 1) / 2)
      }
    }
  }

  def emptyState(windowSeconds: Long): State =
    State(windowSeconds, 0L, Array.empty, Array.empty)

  /** The reference's lenient bit test: a message feeds the sketch only
    * when its value parses as the integer 1 (surrounding blanks allowed);
    * null and non-numeric values are skipped.
    */
  def isOneBit(value: String): Boolean =
    value != null && value.trim.toIntOption.contains(1)

  /** In-place triple-merge over the first `m` slots of newest-first
    * parallel bucket arrays (restart-scan loop shape matching the
    * reference, DGIMAccumulator.java:129-160). Returns the new length.
    */
  private def mergeTriplesInPlace(ts: Array[Long], sz: Array[Long], m0: Int): Int = {
    var m = m0
    var i = 0
    while (i + 2 < m) {
      if (sz(i) == sz(i + 1) && sz(i + 1) == sz(i + 2)) {
        sz(i + 1) *= 2
        System.arraycopy(ts, i + 3, ts, i + 2, m - i - 3)
        System.arraycopy(sz, i + 3, sz, i + 2, m - i - 3)
        m -= 1
        i = 0
      } else i += 1
    }
    m
  }

  /** Drop expired tail buckets (oldest are last). Returns the new length. */
  private def expireTail(ts: Array[Long], m0: Int, now: Long, w: Long): Int = {
    var m = m0
    while (m > 0 && now - ts(m - 1) >= w) m -= 1
    m
  }

  /** One 1-bit arriving at `tsSec`, applied to an immutable [[State]]:
    * exactly two primitive array allocations, no boxing. This is the
    * aggregator's per-row reduce path.
    */
  def added(s: State, tsSec: Long): State = {
    val n = s.ts.length
    val ts = new Array[Long](n + 1)
    val sz = new Array[Long](n + 1)
    ts(0) = tsSec
    sz(0) = 1L
    System.arraycopy(s.ts, 0, ts, 1, n)
    System.arraycopy(s.size, 0, sz, 1, n)
    var m = mergeTriplesInPlace(ts, sz, n + 1)
    m = expireTail(ts, m, tsSec, s.windowSeconds)
    State(s.windowSeconds, math.max(s.latest, tsSec),
      if (m == ts.length) ts else java.util.Arrays.copyOf(ts, m),
      if (m == sz.length) sz else java.util.Arrays.copyOf(sz, m))
  }

  /** Mutable builder used on per-group batch paths: reusable primitive
    * arrays with capacity growth, O(#buckets) arraycopy per add.
    */
  final class Builder(val windowSeconds: Long) {
    private var bts = new Array[Long](16)
    private var bsz = new Array[Long](16)
    private var n = 0
    private var latest = 0L

    def add(tsSeconds: Long): Unit = {
      latest = math.max(latest, tsSeconds)
      if (n == bts.length) {
        bts = java.util.Arrays.copyOf(bts, n * 2)
        bsz = java.util.Arrays.copyOf(bsz, n * 2)
      }
      System.arraycopy(bts, 0, bts, 1, n)
      System.arraycopy(bsz, 0, bsz, 1, n)
      bts(0) = tsSeconds
      bsz(0) = 1L
      n = mergeTriplesInPlace(bts, bsz, n + 1)
      n = expireTail(bts, n, tsSeconds, windowSeconds)
    }

    def state: State = State(windowSeconds, latest,
      java.util.Arrays.copyOf(bts, n), java.util.Arrays.copyOf(bsz, n))

    def loadFrom(s: State): Builder = {
      latest = s.latest
      n = s.ts.length
      if (bts.length < n) { bts = new Array[Long](n); bsz = new Array[Long](n) }
      System.arraycopy(s.ts, 0, bts, 0, n)
      System.arraycopy(s.size, 0, bsz, 0, n)
      this
    }

    def rebalanceAndExpire(): Unit = {
      n = mergeTriplesInPlace(bts, bsz, n)
      n = expireTail(bts, n, latest, windowSeconds)
    }
  }

  /** Deterministic batch path: sorted 1-bit timestamps → estimate at the
    * max timestamp. This is the reference PyFlink job's semantics
    * (sort-then-fold, /root/reference/src/usrcode/job.py:75-93) with the
    * flagship's round-up estimate by default.
    */
  def estimateSorted(sortedTsSeconds: Array[Long], windowSeconds: Long,
      roundUp: Boolean = true): Long = {
    val b = new Builder(windowSeconds)
    var i = 0
    while (i < sortedTsSeconds.length) { b.add(sortedTsSeconds(i)); i += 1 }
    b.state.estimate(roundUp)
  }

  /** Canonical merge of two states: concat, sort desc, re-merge, expire. */
  def merge(a: State, b: State): State = {
    val w = math.max(a.windowSeconds, b.windowSeconds)
    val pairs = (a.ts.zip(a.size) ++ b.ts.zip(b.size)).sortBy(-_._1)
    val builder = new Builder(w)
    builder.loadFrom(State(w, math.max(a.latest, b.latest),
      pairs.map(_._1), pairs.map(_._2)))
    builder.rebalanceAndExpire()
    builder.state
  }
}

/** Raw traffic message shape fed to [[DgimBitAggregator]]: the reference's
  * accumulate(value, timestampSeconds) signature
  * (DGIMAggregateFunction.java:56-78).
  */
case class BitEvent(value: String, tsSec: Long)

/** DGIM over (value, ts) pairs: non-numeric values are skipped, only
  * bit == 1 feeds the sketch — the reference's lenient accumulate.
  * reduce() is the allocation-lean [[Dgim.added]] primitive-array path.
  * `roundUp` selects the published estimate semantics (Java flagship
  * ceil vs PyFlink floor of the oldest bucket).
  */
class DgimBitAggregator(windowSeconds: Long, roundUp: Boolean = true)
    extends Aggregator[BitEvent, Dgim.State, Long] {
  override def zero: Dgim.State = Dgim.emptyState(windowSeconds)
  override def reduce(b: Dgim.State, e: BitEvent): Dgim.State =
    if (Dgim.isOneBit(e.value)) Dgim.added(b, e.tsSec) else b
  override def merge(a: Dgim.State, b: Dgim.State): Dgim.State = Dgim.merge(a, b)
  override def finish(r: Dgim.State): Long = r.estimate(roundUp)
  override def bufferEncoder: Encoder[Dgim.State] = Encoders.product[Dgim.State]
  override def outputEncoder: Encoder[Long] = Encoders.scalaLong
}

/** Mergeable state of the DGIM SUM sketch: one independent [[Dgim.State]]
  * per bit position, newest-first inside each.
  */
case class DgimSumState(windowSeconds: Long, states: Seq[Dgim.State])

/** One (amount, event-time) pair for the sum sketch. */
case class SumEvent(amount: Long, tsSec: Long)

/** DGIM extended from bit-counting to SUMS of bounded non-negative
  * integers — the generalization published alongside the counting sketch
  * (Datar–Gionis–Indyk–Motwani 2002, §5: "maintaining the sum of the
  * last N elements" via binary decomposition): each arriving amount v
  * feeds a 1-bit into an independent DGIM instance for every set bit of
  * v, and the windowed-sum estimate is Σ_j 2^j · estimate_j. State is
  * `bits × O(log² W)` — still polylogarithmic in the window.
  *
  * Error: each instance carries the counting sketch's ≤ 50% bound on
  * its own bit count, so the weighted total satisfies
  * |est − exact| ≤ 0.5 · exact (+ ≤ 1 per instance from round-up).
  *
  * Amounts clamp into [0, 2^bits): negative amounts are skipped
  * (lenient, like the bit aggregator's non-"1" values), oversized
  * amounts saturate at 2^bits − 1 — pick `bits` from the domain bound
  * (17 covers the events table's cents at every SF).
  *
  * Ordering: like [[DgimBitAggregator]], the per-row reduce inserts at
  * the newest-first head and expires at the arriving timestamp — it
  * assumes non-decreasing timestamps WITHIN a partition (cross-partition
  * disorder is repaired by the sort-based canonical [[Dgim.merge]]).
  * Intra-partition out-of-order rows break the newest-first invariant
  * and can void the §5 bound; feed it partition-sorted event time (the
  * batch queries sort per group, streaming micro-batches arrive in
  * watermark order) or pre-sort unordered sources.
  */
class DgimSumAggregator(windowSeconds: Long, bits: Int = 17)
    extends Aggregator[SumEvent, DgimSumState, Long] {
  override def zero: DgimSumState =
    DgimSumState(windowSeconds,
      Vector.fill(bits)(Dgim.emptyState(windowSeconds)))
  override def reduce(b: DgimSumState, e: SumEvent): DgimSumState = {
    if (e.amount <= 0L) b
    else {
      val v = math.min(e.amount, (1L << bits) - 1)
      // hot path: one 17-slot ref-array copy per row, mutated in place —
      // Vector.updated per set bit would be up to 17 persistent-vector
      // copies per row
      val out = b.states.toArray
      var j = 0
      while (j < bits) {
        if (((v >> j) & 1L) == 1L)
          out(j) = Dgim.added(out(j), e.tsSec)
        j += 1
      }
      DgimSumState(b.windowSeconds,
        scala.collection.immutable.ArraySeq.unsafeWrapArray(out))
    }
  }
  override def merge(a: DgimSumState, b: DgimSumState): DgimSumState =
    DgimSumState(a.windowSeconds,
      a.states.zip(b.states).map { case (x, y) => Dgim.merge(x, y) })
  override def finish(r: DgimSumState): Long = {
    // evaluate every instance at the GLOBAL latest: an instance whose bit
    // recent values never set has a stale local clock, and its expired
    // buckets must not count (measured: a 100-then-7 stream estimated 103
    // instead of 7 before this)
    var latest = 0L
    r.states.foreach(s => latest = math.max(latest, s.latest))
    var total = 0L
    var j = 0
    while (j < r.states.length) {
      total += (1L << j) * r.states(j).estimateAt(latest, roundUp = true)
      j += 1
    }
    total
  }
  override def bufferEncoder: Encoder[DgimSumState] = Encoders.product[DgimSumState]
  override def outputEncoder: Encoder[Long] = Encoders.scalaLong
}
