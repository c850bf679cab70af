package graft

import scala.util.Random


import graft.operators.Rendezvous

/** Rendezvous-hashing laws on fixed and randomized key sets:
  *
  *   - placement is total and in-range;
  *   - deterministic across invocations;
  *   - GROW law: moving from n to n+1 shards relocates ONLY keys the new
  *     shard wins (every mover lands on the new shard) — the defining
  *     property mod-hash lacks;
  *   - REMOVE law: dropping shard k relocates exactly the keys that
  *     lived on k — survivors never move;
  *   - balance: shares stay within a loose factor of uniform;
  *   - the placement expression stays shuffle-free (no Exchange below
  *     the project that computes it).
  */
class RendezvousSpec extends SparkSpec {

  import spark.implicits._

  private def keys(seed: Int, n: Int) = {
    val rnd = new Random(seed)
    Seq.fill(n)(rnd.nextLong().abs).distinct.toDF("k")
  }

  test("placement is total, in-range, deterministic") {
    val df = keys(1, 500)
    val a = Rendezvous.place(df, "k", 16).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val b = Rendezvous.place(df, "k", 16).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(a == b, "placement must be deterministic")
    assert(a.values.forall(s => s >= 0 && s < 16))
    assert(a.size == df.count())
  }

  test("grow law: every mover lands on the new shard") {
    for (seed <- Seq(3, 11); n <- Seq(8, 32)) {
      val moved = Rendezvous.churn(keys(seed, 400), "k", 0 until n, 0 until (n + 1))
        .where($"moved").select($"to_shard").collect().map(_.getInt(0))
      assert(moved.forall(_ == n),
        s"n=$n seed=$seed: a grow-mover must land on the new shard")
    }
  }

  test("remove law: only the removed shard's keys move") {
    val before = Rendezvous.place(keys(7, 400), "k", 8, "s8")
    val after = before.withColumn("s7",
      Rendezvous.shardFor($"k", (0 until 8).filterNot(_ == 3)))
    val rows = after.select($"s8", $"s7").collect()
      .map(r => (r.getInt(0), r.getInt(1)))
    assert(rows.exists(_._1 == 3), "fixture must exercise the removed shard")
    rows.foreach { case (s8, s7) =>
      if (s8 != 3) assert(s7 == s8, "survivors must not move")
      else assert(s7 != 3, "evacuees must leave the removed shard")
    }
  }

  test("balance stays within a loose factor of uniform") {
    val counts = Rendezvous.place(keys(13, 2000), "k", 8)
      .groupBy($"shard").count().collect().map(_.getLong(1))
    assert(counts.length == 8, "every shard gets keys at this density")
    val mean = counts.sum.toDouble / counts.length
    assert(counts.forall(c => c > mean * 0.5 && c < mean * 1.5),
      s"shard shares drifted: ${counts.mkString(",")}")
  }

  test("placement is a per-row expression — no exchange introduced") {
    val plan = Rendezvous.place(keys(1, 100), "k", 32)
      .queryExecution.executedPlan
    val exchanges = plan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(exchanges.isEmpty, "HRW scoring must not shuffle")
  }
}
