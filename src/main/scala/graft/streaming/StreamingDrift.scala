package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming distribution-drift monitor — the q82/q149 batch laws turned
  * into a live ingest guard: per key (a source, a crawl, a tenant) the
  * first `refN` observations freeze a REFERENCE histogram; every
  * micro-batch after that is compared against it by total-variation
  * distance (half the L1 between normalized histograms) and emits a
  * drift report, alerting when the distance crosses the threshold.
  *
  * This is the monitor a training-data ingest runs per source: a crawl
  * whose document-length (or quality-score) distribution suddenly shifts
  * is the first symptom of a parser break, a bot flood, or an upstream
  * format change — and the histogram comparison catches it without
  * storing any raw data.
  *
  * Scale shape: state is `nBuckets + 2` longs per key — bounded and tiny
  * (a thousand sources × 16 buckets is kilobytes); the only shuffle is
  * the groupByKey the state store partitions. Batch-size invariance is
  * deliberately NOT claimed for the report granularity (a report row per
  * (key, batch) is the natural monitoring unit); the REFERENCE is
  * batching-invariant because rows fold in (value, then arrival) order
  * until refN is reached.
  */
object StreamingDrift {

  /** Bounded per-key state: the frozen reference counts (length nBuckets),
    * how many reference rows are in, and the batch ordinal.
    */
  final case class DriftState(ref: Array[Long], refN: Long, batch: Long)

  final case class DriftReport(key: String, batch: Long, n: Long,
      tvd: Double, alert: Boolean)

  private def bucketOf(v: Double, nBuckets: Int, width: Double): Int =
    math.min(nBuckets - 1, math.max(0, (v / width).toInt))

  /** Total-variation distance between two count histograms, computed with
    * an exact INTEGER numerator — Σ|a_i·tb − b_i·ta| / (2·ta·tb) — so the
    * value is engine-reproducible (one float division, no float summation
    * order; the q181-gate discipline). Overflow needs a_i·tb ≥ 2^63 —
    * ~3·10^9 rows on BOTH sides of one key's histogram — beyond any
    * per-key reference this monitor freezes.
    */
  private[graft] def tvd(a: Array[Long], b: Array[Long]): Double = {
    val (ta, tb) = (a.sum, b.sum)
    if (ta == 0L || tb == 0L) 0.0
    else a.indices.map(i => math.abs(a(i) * tb - b(i) * ta)).sum.toDouble /
      (2.0 * ta * tb)
  }

  /** Monitor `stream`'s `valueCol` distribution per `keyCol`. Run with
    * `OutputMode.Update`; one report row per (key, micro-batch) once the
    * reference is frozen.
    */
  def monitor(stream: DataFrame, keyCol: String, valueCol: String,
      nBuckets: Int = 16, bucketWidth: Double = 100.0,
      refN: Long = 100L, threshold: Double = 0.2): Dataset[DriftReport] = {
    val s = stream.sparkSession
    import s.implicits._
    stream
      .select(col(keyCol).cast("string"), col(valueCol).cast("double"))
      .as[(String, Double)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (key: String, rows: Iterator[(String, Double)],
         state: GroupState[DriftState]) =>
          val st = state.getOption
            .getOrElse(DriftState(Array.fill(nBuckets)(0L), 0L, 0L))
          val vs = rows.map(_._2).toVector.sorted
          // 1. top up the reference first (deterministic fold order)
          var i = 0
          val ref = st.ref.clone()
          var refN0 = st.refN
          while (i < vs.length && refN0 < refN) {
            ref(bucketOf(vs(i), nBuckets, bucketWidth)) += 1
            refN0 += 1
            i += 1
          }
          // 2. the remainder is this batch's observation window
          val cur = Array.fill(nBuckets)(0L)
          var n = 0L
          while (i < vs.length) {
            cur(bucketOf(vs(i), nBuckets, bucketWidth)) += 1
            n += 1
            i += 1
          }
          val out =
            if (refN0 >= refN && n > 0) {
              val d = tvd(ref, cur)
              Iterator.single(
                DriftReport(key, st.batch, n, d, d > threshold))
            } else Iterator.empty
          state.update(DriftState(ref, refN0, st.batch + 1))
          out
      }
  }
}
