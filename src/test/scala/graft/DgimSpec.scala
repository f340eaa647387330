package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.functions.Dgim

class DgimSpec extends AnyFunSuite {

  private def exactInWindow(ts: Array[Long], w: Long): Long = {
    if (ts.isEmpty) return 0L
    val latest = ts.max
    ts.count(t => latest - t < w).toLong
  }

  test("empty stream estimates 0") {
    assert(Dgim.estimateSorted(Array.empty, 3600) === 0L)
  }

  test("small streams (no merges) are exact") {
    // With <= 2 one-bits all buckets have size 1 → estimate is exact.
    assert(Dgim.estimateSorted(Array(10L), 3600) === 1L)
    assert(Dgim.estimateSorted(Array(10L, 20L), 3600) === 2L)
  }

  test("expiry drops bits older than the window") {
    // bits at t=0..9 then one at t=5000 with W=3600: only the last remains
    val ts = (0L to 9L).toArray :+ 5000L
    assert(Dgim.estimateSorted(ts, 3600) === 1L)
  }

  test("estimate respects the DGIM 50% error bound (200 seeded random streams)") {
    val rnd = new scala.util.Random(42)
    for (_ <- 0 until 200) {
      val n = rnd.nextInt(2000)
      val w = Seq(60L, 600L, 3600L)(rnd.nextInt(3))
      val ts = Array.fill(n)(rnd.nextLong(7200L)).sorted
      val est = Dgim.estimateSorted(ts, w)
      val exact = exactInWindow(ts, w)
      // DGIM guarantee: |est - exact| <= exact/2 (+1 slack for the
      // flagship's round-up of the oldest bucket)
      assert(math.abs(est - exact) <= exact / 2 + 1,
        s"est=$est exact=$exact w=$w n=${ts.length}")
    }
  }

  test("dense stream estimate stays within bound (merge-heavy path)") {
    val ts = Array.tabulate(10000)(i => (i / 3).toLong) // 3 bits per second
    val est = Dgim.estimateSorted(ts, 3600)
    val exact = exactInWindow(ts, 3600)
    assert(math.abs(est - exact) <= exact / 2 + 1)
  }

  test("bucket invariant: at most 2 buckets of each size, sizes are powers of 2") {
    val b = new Dgim.Builder(3600)
    (0 until 5000).foreach(i => b.add(i / 2L))
    val st = b.state
    val bySize = st.size.groupBy(identity)
    bySize.foreach { case (sz, occ) =>
      assert((sz & (sz - 1)) == 0, s"size $sz not a power of 2")
      assert(occ.length <= 2, s"${occ.length} buckets of size $sz")
    }
  }

  test("canonical merge matches reference semantics and keeps the bound") {
    val left = {
      val b = new Dgim.Builder(3600); (0L until 300L).foreach(b.add); b.state
    }
    val right = {
      val b = new Dgim.Builder(3600); (300L until 700L).foreach(b.add); b.state
    }
    val merged = Dgim.merge(left, right)
    val exact = 700L // all within window of latest=699
    assert(math.abs(merged.estimate - exact) <= exact / 2 + 1)
    assert(merged.latest === 699L)
  }

  test("round-up (Java flagship) vs round-down (PyFlink) estimates, hand-computed") {
    // Two 1-bits → buckets [(20,1),(10,1)]; oldest has size 1, the only
    // parity where the two published semantics differ:
    //   flagship  (DGIMAccumulator.java:75-95): 1 + ceil(1/2) = 2
    //   PyFlink   (job.py:37-46, size // 2):    1 + floor(1/2) = 1
    assert(Dgim.estimateSorted(Array(10L, 20L), 3600, roundUp = true) === 2L)
    assert(Dgim.estimateSorted(Array(10L, 20L), 3600, roundUp = false) === 1L)
    assert(Dgim.estimateSorted(Array(10L), 3600, roundUp = true) === 1L)
    assert(Dgim.estimateSorted(Array(10L), 3600, roundUp = false) === 0L)
    // Three bits → triple-merge to [(30,1),(20,2)]; oldest size 2 is even
    // so ceil == floor and both variants agree at 1 + 1 = 2:
    assert(Dgim.estimateSorted(Array(10L, 20L, 30L), 3600, roundUp = true) === 2L)
    assert(Dgim.estimateSorted(Array(10L, 20L, 30L), 3600, roundUp = false) === 2L)
    // default estimate is the flagship's round-up
    val b = new Dgim.Builder(3600); b.add(10L); b.add(20L)
    assert(b.state.estimate === b.state.estimate(roundUp = true))
  }

  test("single live bucket: flagship returns its FULL size, PyFlink still floors") {
    // DGIMAccumulator.java:72-75 early-returns the bucket's full size when
    // only one bucket remains; job.py:37-46 has no special case and always
    // floors the last bucket. Internally built states only ever reach this
    // case with size 1 (where both forms coincide with the general rule),
    // so pin it with an externally constructed state of size 4:
    val lone = Dgim.State(3600L, 100L, Array(100L), Array(4L))
    assert(lone.estimate(roundUp = true) === 4L)
    assert(lone.estimate(roundUp = false) === 2L)
    // same, with an expired older bucket that must not resurrect the
    // general path: live prefix is still just the size-4 bucket
    val withExpired = Dgim.State(60L, 2000L, Array(2000L, 10L), Array(4L, 8L))
    assert(withExpired.estimate(roundUp = true) === 4L)
    assert(withExpired.estimate(roundUp = false) === 2L)
  }

  test("added() immutable fast path folds to the identical state as Builder") {
    val rnd = new scala.util.Random(7)
    // (W, max stream length): the second input never expires a bit, so
    // its states grow past the builder's initial capacity
    for ((w, maxN) <- Seq(600L -> 500, 7200L -> 5000); _ <- 0 until 50) {
      val n = rnd.nextInt(maxN)
      // UNSORTED: the streaming aggregator consumes arrival order, so the
      // fast path must match the builder on out-of-order streams too
      val ts = Array.fill(n)(rnd.nextLong(7200L))
      def fold(b: Dgim.Builder, part: Array[Long]): Dgim.State = {
        part.foreach(b.add); b.state
      }
      val viaBuilder = fold(new Dgim.Builder(w), ts)
      val viaAdded = ts.foldLeft(Dgim.emptyState(w))(Dgim.added)
      // resumed from stored state, as each streaming micro-batch does:
      // loadFrom sizes a large state's arrays to its bucket count, so the
      // next add takes the growth branch
      val cut = rnd.nextInt(n + 1)
      val viaResumed = fold(
        new Dgim.Builder(w).loadFrom(fold(new Dgim.Builder(w), ts.take(cut))), ts.drop(cut))
      for (other <- Seq(viaAdded, viaResumed)) {
        assert(other.ts.toSeq === viaBuilder.ts.toSeq)
        assert(other.size.toSeq === viaBuilder.size.toSeq)
        assert(other.latest === viaBuilder.latest)
      }
      assert(viaAdded.estimate === viaBuilder.estimate)
    }
  }

  test("out-of-order adds expire against the incoming timestamp (reference add semantics)") {
    val b = new Dgim.Builder(60)
    b.add(1000L); b.add(1001L); b.add(2000L)
    // bits at 1000/1001 are >= 60s older than 2000 → expired
    assert(b.state.estimate === 1L)
  }

  import graft.functions.{DgimSumAggregator, SumEvent}

  private def sumFold(agg: DgimSumAggregator, events: Seq[(Long, Long)]): Long =
    agg.finish(events.foldLeft(agg.zero) { case (s, (v, t)) =>
      agg.reduce(s, SumEvent(v, t)) })

  test("sum sketch: small streams are exact (hand-computed binary decomposition)") {
    val agg = new DgimSumAggregator(3600, bits = 4)
    // 3 = 0b11 feeds bits {0,1}; 5 = 0b101 feeds bits {0,2}; every
    // instance holds <= 2 size-1 buckets (no merges) -> estimate exact
    assert(sumFold(agg, Seq(3L -> 10L, 5L -> 20L)) === 8L)
    assert(sumFold(agg, Seq(15L -> 10L)) === 15L)
    assert(sumFold(agg, Seq.empty) === 0L)
  }

  test("sum sketch: expiry drops amounts older than the window") {
    val agg = new DgimSumAggregator(3600, bits = 8)
    // 100 at t=0 expires once 5000 arrives (W=3600); only 7 remains
    assert(sumFold(agg, Seq(100L -> 0L, 7L -> 5000L)) === 7L)
  }

  test("sum sketch: lenient inputs — negatives skipped, oversize saturates") {
    val agg = new DgimSumAggregator(3600, bits = 4)
    assert(sumFold(agg, Seq(-5L -> 10L)) === 0L)
    // 1000 >= 2^4 saturates at 15 (single value per bit -> exact)
    assert(sumFold(agg, Seq(1000L -> 10L)) === 15L)
  }

  test("sum sketch: 50% published bound on seeded random streams (§5)") {
    val rnd = new scala.util.Random(42)
    val agg = new DgimSumAggregator(600, bits = 10)
    for (_ <- 0 until 100) {
      val n = rnd.nextInt(1000)
      val ev = Array.fill(n)((rnd.nextLong(1024L), rnd.nextLong(7200L)))
        .sortBy(_._2).map { case (v, t) => v -> t }.toSeq
      val est = sumFold(agg, ev)
      val exact = if (ev.isEmpty) 0L else {
        val latest = ev.map(_._2).max
        ev.filter(e => latest - e._2 < 600L).map(_._1).sum
      }
      // per-instance DGIM bound weighted by 2^j: |est-exact| <= exact/2,
      // plus <= 1 round-up slack per bit instance
      assert(math.abs(est - exact) <= exact / 2 + 10,
        s"est=$est exact=$exact n=$n")
    }
  }

  test("sum sketch: split/merge keeps the bound (mergeable partial aggregation)") {
    val rnd = new scala.util.Random(7)
    val agg = new DgimSumAggregator(600, bits = 10)
    for (_ <- 0 until 50) {
      val n = 2 + rnd.nextInt(800)
      val ev = Array.fill(n)((rnd.nextLong(1024L), rnd.nextLong(7200L))).sortBy(_._2)
      // alternate-partition split, each side folded in its own order —
      // the shape of a two-partition map-side partial aggregation
      val (a, b) = ev.zipWithIndex.partition(_._2 % 2 == 0)
      def fold(part: Array[((Long, Long), Int)]) =
        part.map(_._1).foldLeft(agg.zero) { case (s, (v, t)) =>
          agg.reduce(s, SumEvent(v, t)) }
      val est = agg.finish(agg.merge(fold(a), fold(b)))
      val latest = ev.map(_._2).max
      val exact = ev.filter(e => latest - e._2 < 600L).map(_._1).sum
      assert(math.abs(est - exact) <= exact / 2 + 10,
        s"merged est=$est exact=$exact n=$n")
    }
  }
}
