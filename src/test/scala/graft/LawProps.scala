package graft

import java.sql.Timestamp

import org.scalacheck.{Gen, Prop, Properties}
import org.scalacheck.Prop.{forAll, propBoolean}

import graft.model.{Event, EventRow}
import graft.schema.SchemaRegistry

/** ScalaCheck properties for the engine's algebraic laws (SURVEY.md §5) —
  * driver-side only (no SparkSession), so hundreds of samples stay cheap.
  */
object LawProps extends Properties("graft-laws") {

  private val genEvent: Gen[EventRow] = for {
    id <- Gen.uuid.map(_.toString)
    tpe <- Gen.oneOf("a", "b", "c")
    ms <- Gen.chooseNum(0L, 1000000L)
    v <- Gen.chooseNum(-100, 100)
  } yield EventRow(id, tpe, "t", new Timestamp(ms), "1.0", s"""{"v":$v}""", Map.empty)

  // DistributedNtile's bucket arithmetic (the law its Spark columns
  // spell): under SQL-standard ntile(k) over n rows, q = n/k, rem = n%k,
  // the FIRST rem buckets carry q+1 rows. Property-checked against the
  // brute assignment for hundreds of (n, k) pairs — the remainder-class
  // edge the naive ((r·k−1) div n)+1 spelling gets wrong.
  private def ntileBucket(r: Long, n: Long, k: Long): Long = {
    val q = n / k; val rem = n % k; val cut = (q + 1) * rem
    if (r <= cut) (r - 1) / (q + 1) + 1 else rem + (r - cut - 1) / q + 1
  }

  property("distributed-ntile bucket law == SQL-standard ntile") =
    forAll(Gen.chooseNum(1, 500), Gen.chooseNum(1, 12)) { (n: Int, k: Int) =>
      // brute SQL-standard assignment: first n%k buckets get n/k+1 rows;
      // at k > n that degenerates to row r -> bucket r (empty tail
      // buckets emit nothing), which the formula's first branch covers
      val sizes = Array.tabulate(k)(i => n / k + (if (i < n % k) 1 else 0))
      val brute = sizes.zipWithIndex.flatMap { case (sz, b) => Array.fill(sz)(b + 1L) }
      (1 to n).forall(r => ntileBucket(r.toLong, n.toLong, k.toLong) == brute(r - 1))
    }

  private final class Summer(id: String)
      extends graft.sourcing.AggregateRoot[Long](id, 0L) {
    override protected def applyEvent(e: EventRow): Unit = {
      val v = e.payload.replaceAll("[^-0-9]", "").toLong
      state = state + v
    }
  }

  property("rehydrate = fold: version == n, state == commutative sum, replay idempotent") =
    forAll(Gen.listOf(genEvent)) { events =>
      val agg = new Summer("x")
      agg.rehydrate(events)
      val expected = events.map(_.payload.replaceAll("[^-0-9]", "").toLong).sum
      val firstState = agg.getState
      agg.rehydrate(events) // re-rehydrate resets — no accumulation
      (agg.getVersion == events.size) :| "version" &&
        (firstState == expected) :| "state" &&
        (agg.getState == expected) :| "idempotent"
    }

  property("fold order law: sorting by (ts, id) makes any permutation agree") =
    forAll(Gen.listOf(genEvent)) { events =>
      def foldSorted(evs: Seq[EventRow]): Seq[String] = {
        val agg = new Summer("x")
        agg.rehydrate(evs.sorted(Event.order))
        agg.getEvents.map(_.id)
      }
      foldSorted(events) == foldSorted(scala.util.Random.shuffle(events))
    }

  property("generateId is unique and lexicographically non-decreasing in time") =
    Prop {
      val ids = (1 to 500).map(_ => Event.generateId())
      ids.distinct.size == ids.size && ids.sliding(2).forall {
        case Seq(a, b) => a.take(9) <= b.take(9) // time prefix monotone
        case _ => true
      }
    }

  private val reg = {
    val r = new SchemaRegistry
    r.registerSchema("a",
      """{"type":"object","required":["k"],"properties":{"k":{"type":"integer"}}}""", "1.0")
    r
  }

  property("schema law: integer accepts exactly whole numbers; missing k rejects; extras pass") =
    forAll(Gen.chooseNum(-1e6, 1e6), Gen.alphaStr) { (d: Double, extra: String) =>
      def ev(payload: String) =
        EventRow("i", "a", "t", new Timestamp(0), "1.0", payload, Map.empty)
      val whole = d == math.floor(d) && !d.isInfinite
      (reg.validate(ev(s"""{"k":$d}""")) == whole) :| s"k=$d whole=$whole" &&
        Prop(!reg.validate(ev(s"""{"x":1}"""))) :| "missing required" &&
        Prop(reg.validate(ev(s"""{"k":1,"extra":"$extra"}"""))) :| "extra props pass"
    }

  property("retention predicate law: deleted+kept == total, nothing >= cutoff deleted") =
    forAll(Gen.listOf(genEvent), Gen.chooseNum(0L, 1000000L)) { (events, cutoff) =>
      val (deleted, kept) = events.partition(_.timestamp.getTime < cutoff)
      deleted.size + kept.size == events.size &&
        deleted.forall(_.timestamp.getTime < cutoff) &&
        kept.forall(_.timestamp.getTime >= cutoff)
    }

  property("z-order law: interleave is a bijection — (x, y) decode back from z") =
    forAll(Gen.chooseNum(0L, 1023L), Gen.chooseNum(0L, 1023L)) { (x, y) =>
      // the q91 interleave, bit-for-bit
      val z = (0 until 10).map { i =>
        (((x >> i) & 1L) << (2 * i)) | (((y >> i) & 1L) << (2 * i + 1))
      }.reduce(_ | _)
      val xBack = (0 until 10).map(i => ((z >> (2 * i)) & 1L) << i).reduce(_ | _)
      val yBack = (0 until 10).map(i => ((z >> (2 * i + 1)) & 1L) << i).reduce(_ | _)
      (xBack == x && yBack == y) :| s"z=$z decoded to ($xBack, $yBack)" &&
        ((z >> 20) == 0L) :| "20 bits suffice"
    }

  property("space-saving law: size <= capacity; reported >= true >= reported - err; " +
      "every item with freq > N/capacity is present") =
    forAll(
      Gen.listOf(Gen.frequency(
        8 -> Gen.oneOf("a", "b", "c", "d"),
        2 -> Gen.alphaLowerStr.map(s => "r" + s.take(6)))),
      Gen.chooseNum(2, 16)) { (feed, capacity) =>
      val sketch = feed.foldLeft(Map.empty[String, (Long, Long)])(
        (sk, it) => graft.streaming.StreamingTopK.foldSketch(sk, it, capacity))
      val truth = feed.groupBy(identity).view.mapValues(_.size.toLong).toMap
      val n = feed.size.toLong
      val bounds = sketch.forall { case (item, (c, e)) =>
        val t = truth(item)
        c >= t && c - e <= t
      }
      val guaranteed = truth.forall { case (item, t) =>
        t * capacity <= n || sketch.contains(item)
      }
      ((sketch.size <= capacity) :| "bounded state") &&
        (bounds :| "count bracket") &&
        (guaranteed :| "heavy hitters present")
    }

  property("tvd law: a metric on count histograms — 0 on self, symmetric, " +
      "in [0,1], 1 exactly on disjoint support, empty side is 0 by convention") =
    forAll(
      Gen.listOfN(8, Gen.chooseNum(0L, 50L)),
      Gen.listOfN(8, Gen.chooseNum(0L, 50L))) { (la, lb) =>
      val (a, b) = (la.toArray, lb.toArray)
      val d = graft.streaming.StreamingDrift.tvd(a, b)
      val disjoint = a.indices.forall(i => a(i) == 0L || b(i) == 0L)
      val someMass = a.sum > 0 && b.sum > 0
      ((d >= 0.0 && d <= 1.0 + 1e-12) :| s"range: $d") &&
        ((graft.streaming.StreamingDrift.tvd(a, a) == 0.0) :| "identity") &&
        ((d == graft.streaming.StreamingDrift.tvd(b, a)) :| "symmetry") &&
        ((!someMass || !disjoint || math.abs(d - 1.0) < 1e-12) :| "disjoint → 1") &&
        ((someMass || d == 0.0) :| "empty side → 0")
    }

  property("portable-quantile sketch law: the estimate's bucket brackets the " +
      "true quantile; every bucket spans <= 1/32 relative width") =
    forAll(Gen.nonEmptyListOf(Gen.chooseNum(0L, 2000000L)),
      Gen.oneOf(0.5, 0.9, 0.99)) { (cents, qv) =>
      import graft.streaming.StreamingQuantile._
      val sk = cents.foldLeft(Map.empty[(Int, Long), Long])(foldSketch)
      val est = estimate(sk, qv)
      val sorted = cents.sorted
      val truth = sorted((math.ceil(qv * cents.size).toInt - 1).max(0))
      val (tb, th) = bucketOf(truth)
      val (lo, hi) = bucketRange(tb, th)
      // the walk stops at the bucket holding the ceil(q·n)-th value, so
      // the estimate is that bucket's midpoint — inside [lo, hi]
      ((est >= lo && est <= hi) :| s"est $est inside truth bucket [$lo, $hi]") &&
        ((hi - lo <= math.max(hi / 32, 0) + 1) :| s"bucket width bound [$lo, $hi]") &&
        ((sk.valuesIterator.sum == cents.size.toLong) :| "mass conserved")
    }

  private val genToks: Gen[List[String]] =
    Gen.listOf(Gen.oneOf("a", "b", "ab", "the", "x", "yy", "z9"))

  private def arrayData(toks: List[String]) =
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      toks.map(org.apache.spark.unsafe.types.UTF8String.fromString).toArray[Any])

  property("token-entropy expression law: equals the count-based formula; " +
      "0 for constant docs; ln(n) for all-distinct; null only when empty") =
    forAll(genToks) { toks =>
      val got = Option(
        graft.functions.expressions.TokenEntropyExpr.compute(arrayData(toks)))
        .map(_.doubleValue())
      if (toks.isEmpty) (got.isEmpty :| "empty -> null")
      else {
        val n = toks.size.toDouble
        val counts = toks.groupBy(identity).values.map(_.size.toDouble)
        val want = math.log(n) - counts.map(c => c * math.log(c)).sum / n
        val v = got.get
        ((math.abs(v - want) < 1e-9) :| "matches relational formula") &&
          ((counts.size != 1 || math.abs(v) < 1e-12) :| "constant doc -> 0") &&
          ((counts.exists(_ > 1) || math.abs(v - math.log(n)) < 1e-9)
            :| "all-distinct -> ln n") &&
          ((v >= -1e-12 && v <= math.log(n) + 1e-9) :| "0 <= H <= ln n")
      }
    }

  property("top-token-share expression law: equals max count / n; in (0, 1]; " +
      "1 iff constant; share >= 1/distinct") =
    forAll(genToks) { toks =>
      val got = Option(
        graft.functions.expressions.TopTokenShareExpr.compute(arrayData(toks)))
        .map(_.doubleValue())
      if (toks.isEmpty) (got.isEmpty :| "empty -> null")
      else {
        val n = toks.size.toDouble
        val counts = toks.groupBy(identity).values.map(_.size)
        val want = counts.max / n
        val v = got.get
        ((v == want) :| "exactly max/n (one exact division)") &&
          ((v > 0.0 && v <= 1.0) :| "a probability") &&
          (((v == 1.0) == (counts.size == 1)) :| "1 iff single type") &&
          ((v >= 1.0 / counts.size - 1e-12) :| "pigeonhole lower bound")
      }
    }

  property("BPE encode law: lossless concat; applying merges never grows " +
      "the segmentation; empty merge list = characters") =
    forAll(Gen.alphaLowerStr.map(_.take(12)),
      Gen.listOf(Gen.zip(Gen.alphaLowerStr.map(s => s.take(2)).suchThat(_.nonEmpty),
        Gen.alphaLowerStr.map(s => s.take(2)).suchThat(_.nonEmpty)))) { (w, merges) =>
      val m0 = graft.operators.BpeTrainer.BpeModel(Nil)
      val m = graft.operators.BpeTrainer.BpeModel(merges)
      val base = m0.encode(w)
      val enc = m.encode(w)
      ((base.mkString == w) :| "no merges = chars") &&
        ((enc.mkString == w) :| "lossless under any merge list") &&
        ((enc.size <= base.size) :| "merges never grow the segmentation")
    }
}
