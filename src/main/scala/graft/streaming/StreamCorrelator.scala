package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Stream-stream correlation over event streams — the operator an event
  * broker grows into once consumers need to JOIN two live topics instead
  * of subscribing to one: match a response stream to its request stream,
  * attribute purchases to the impression that preceded them, flag requests
  * that never got a response. The reference's closest surface is replaying
  * two topics to one handler and correlating by hand in application code
  * (reference: src/broker.ts:139-160); here it is a declarative watermarked
  * interval join that Structured Streaming executes with bounded state.
  *
  * State-size contract: both sides carry a watermark and the join predicate
  * carries an event-time interval, so each side buffers only rows younger
  * than (watermark − interval) — the state store holds a bounded time slice
  * of each stream regardless of total volume. Without the time bound Spark
  * would have to keep EVERY past row of both streams; this API makes the
  * bound unskippable.
  *
  * Both inputs must already be shaped (distinct column names on the two
  * sides) — correlation is on explicit key columns, not position.
  */
object StreamCorrelator {

  /** Inner interval join: left rows matched to right rows with equal keys
    * and `rightTime` in `[leftTime, leftTime + within]`. `delay` is the
    * late-data horizon (watermark) for both sides.
    */
  def correlate(left: DataFrame, leftTime: String, leftKey: String,
      right: DataFrame, rightTime: String, rightKey: String,
      within: String, delay: String, joinType: String = "inner"): DataFrame =
    left.withWatermark(leftTime, delay)
      .join(right.withWatermark(rightTime, delay),
        col(leftKey) === col(rightKey) &&
          col(rightTime) >= col(leftTime) &&
          col(rightTime) <= col(leftTime) + expr(s"interval $within"),
        joinType)

  /** Timeout detection: left rows with NO matching right row inside the
    * interval — "requests that never got a response". Spelled as the
    * left-outer interval join; an unmatched left row is emitted (right
    * columns null) only once the watermark has passed its interval, i.e.
    * once a match is provably impossible.
    */
  def unanswered(left: DataFrame, leftTime: String, leftKey: String,
      right: DataFrame, rightTime: String, rightKey: String,
      within: String, delay: String): DataFrame =
    correlate(left, leftTime, leftKey, right, rightTime, rightKey,
      within, delay, joinType = "leftOuter")
      .where(col(rightKey).isNull)
      .select(left.columns.toIndexedSeq.map(col): _*)

  /** Stream-static enrichment: join a live stream to a small dimension
    * table. The static side is broadcast — re-read per micro-batch, never
    * shuffled, no state kept.
    */
  def enrich(stream: DataFrame, dim: DataFrame, streamKey: String,
      dimKey: String, joinType: String = "inner"): DataFrame =
    stream.join(broadcast(dim), col(streamKey) === col(dimKey), joinType)
}
