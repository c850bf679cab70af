package graft.queries

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.EngineSession.withConf
import graft.operators.ResultMemo
import graft.sources.Tables
import graft.streaming.{StreamCorrelator, StreamingAnomaly, StreamingCuration, StreamingDecontamination, StreamingDedup, StreamingDrift, StreamingHeartbeat, StreamingNearDup, StreamingQuantile, StreamingTopK}

/** Driver-gated STREAMING queries — the q170/q171 treatment applied to the
  * streaming ingest gates: each query actually RUNS its streaming operator
  * (a checkpointed AvailableNow drain over a staged fixture derived from
  * the sf tables), hands the driver the bounded result table, and the
  * DuckDB oracle recomputes the operator's proven batch-equivalence law in
  * SQL. The spec suite pins streaming==batch window-for-window
  * (StreamingNearDupSpec, StreamingDecontaminationSpec,
  * StreamingQuantileSpec); these gates make the same laws hash-checked by
  * the driver, so the streaming operators are first-class gated components
  * rather than spec-only ones.
  *
  * Reference relevance: streaming delivery is the reference's heart
  * (topic.ts:101-144 pushes each event through subscription callbacks at
  * publish time); these operators are its 100 TB-ingest extensions, so
  * they carry the same hard gate as the batch surface.
  *
  * Each builder is memoized per (session, dir) — the drain runs once per
  * batch (bench's 3 passes and sibling queries reread the materialized
  * result), scratch dirs are deleted before returning, and every result is
  * kilobytes.
  */
object StreamingGateQueries {

  /** The md5-percentile split law (q56/q71's), spelled once for the
    * oracles here — same snippet as TextQueries.md5PctSql.
    */
  private def pctSql: String =
    "CAST(('0x' || substr(md5('' || CAST(doc_id AS VARCHAR)), 1, 4)) AS INT) / 65536.0"

  private def withScratch[T](prefix: String)(f: String => T): T =
    graft.operators.Scratch.withDir(prefix)(f) // marks ProceduralWork

  /** Gate scratch + narrow width in one wrapper: every gate body here
    * operates on KB-MB fixtures, so its batch jobs (fixture laws, settle
    * joins, result rollups) and any stream started inside it (which
    * clones the conf at start()) run at [[GateFixtures.narrow]]'s width 4
    * instead of the session's full width — fixed-cost hygiene, not
    * semantics (all gate laws are partition-count-invariant). Marks
    * [[graft.operators.ProceduralWork]] through [[withScratch]].
    */
  private def withGateScratch[T](prefix: String, s: SparkSession)(f: String => T): T =
    withScratch(prefix)(base => GateFixtures.narrow(s)(f(base)))

  /** The q201/q202 envelope-log fixture — the event log in the broker's
    * wire shape, staged once per (JVM, dir) and READ-ONLY to both gates
    * (subscriptions drain it; the DLQ-retry path re-delivers through
    * registered handlers, never appends).
    */
  private def envelopeLog(s: SparkSession, dir: String): String =
    GateFixtures.parquet(dir, "envelope", partitions = 8) {
      Tables.envelopes(s, dir, "gate-events")
    }

  /** The decontamination gates' (q179/q193) test-gram Bloom filter as a
    * STORED artifact: a pure function of the documents table, so the
    * bytes publish once under the documents fingerprint and every cold
    * session reads them instead of re-aggregating the gram table (the
    * q130/q138 storedFilter treatment; the size-hint count() is by-name
    * and only runs on build).
    */
  private def testGramBloom(s: SparkSession, dir: String): Array[Byte] =
    graft.operators.BloomPrefilter.storedFilter(s, "bloom_testgrams",
      Seq(s"${dir.stripSuffix("/")}/documents.parquet"), "w5,bv1")(
      DocProfiles.testGrams(s, dir), "gh",
      math.max(DocProfiles.testGrams(s, dir).count(), 64L))

  /** Run one checkpointed AvailableNow drain of `frame` (a streaming
    * Dataset), collecting each micro-batch through `sink`. `mode` must
    * match the stateful operator's declared OutputMode ("append" for
    * bandHits, "update" for quantiles).
    *
    * Every drain runs inside [[withGateScratch]], so the stream clones the
    * narrowed width at start(): gate fixtures are kilobyte-to-megabyte
    * staged files, and a stateful drain at the session's full width just
    * multiplies fixed cost — 32 state-store deltas + commit files and 32
    * tasks per stateful stage per micro-batch at bench width. Every gate
    * law is content-based (partition-count-invariant: keyed state, exact
    * integer folds, operator-defined fold orders), so width is pure
    * protocol overhead. A production drain over real volume would size
    * this the ordinary way — this is fixture-sized protocol, not the
    * delivery path (StreamingSubscription is untouched).
    */
  private def drain[R](frame: Dataset[R], ckpt: String, mode: String)(
      sink: (Dataset[R], Long) => Unit): Unit =
    frame.writeStream.outputMode(mode)
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (b: Dataset[R], id: Long) => sink(b, id); () }
      .start()
      .awaitTermination()

  def defs: Map[String, (SparkSession, String) => DataFrame] = Map(

    // STREAMING NEAR-DUP GATE — StreamingNearDup's LSH bucket gate run as
    // a real stateful streaming query (flatMapGroupsWithState keyed by
    // (band, minhash), O(1) state per bucket) over a fixture of 60 corpus
    // docs plus 20 planted near-identical copies (one word appended — the
    // StreamingNearDupSpec construction, derived entirely from the
    // documents table so the oracle can respell it). The staged fixture is
    // one file → one micro-batch, where the gate's tie-break (doc_id order
    // within a batch) makes arrival precedence coincide exactly with the
    // batch law's min-doc_id keeper; the oracle IS that batch law: within
    // each (band, minhash) bucket, every member ranked 2..cap+1 emits
    // against the bucket minimum. At 100 TB the gate is the at-ingest
    // twin of q31's corpus sweep: state is one row per distinct bucket,
    // arrivals never join the corpus.
    "q178_streaming_neardup_gate" -> ((s, dir) =>
      ResultMemo.getOrCompute(s, "sndgate", dir) {
        import s.implicits._
        withGateScratch("graft-q178", s) { base =>
          // fixture staged once per (JVM, dir); the checkpointed drain
          // below is the per-call gate protocol (GateFixtures rationale)
          val src = GateFixtures.parquet(dir, "q178") {
            val docs = Tables.documents(s, dir).select($"doc_id", $"text")
            docs.where($"doc_id" < 60)
              .unionAll(docs.where($"doc_id" < 20)
                .select(($"doc_id" + 100000L).as("doc_id"),
                  concat($"text", lit(" appended")).as("text")))
          }
          val stream = s.readStream.schema(s.read.parquet(src).schema).parquet(src)
          val hits = scala.collection.mutable.Buffer.empty[StreamingNearDup.BandHit]
          drain(StreamingNearDup.bandHits(s,
              StreamingNearDup.signatureRows(stream, "doc_id", "text")),
            s"$base/ckpt", "append") { (b, _) =>
            hits.synchronized { hits ++= b.collect() }
          }
          // candidate rows only — saturation markers (none in this
          // fixture: no bucket nears the cap) are a retraction channel
          // for quarantine(), not candidates
          hits.toSeq.filter(!_.saturated).sortBy(h => (h.doc_id, h.band))
            .map(h => (h.doc_id, h.band, h.first_doc))
            .toDF("doc_id", "band", "first_doc")
            .orderBy($"doc_id", $"band")
        }
      }),

    // STREAMING DECONTAMINATION GATE — the Bloom two-path split run at
    // ingest: arrivals (the md5-split train docs plus 5 planted copies of
    // test docs, re-keyed +100000) stream through flag() probing the
    // broadcast test-gram Bloom filter; Bloom-negative docs pass as
    // provably clean with zero joins, the suspect residue settles against
    // the exact gram table. The returned table is the KEPT set — clean ∪
    // settled — and the oracle is the one-shot batch law
    // (StreamingDecontaminationSpec's end-to-end equality): arrivals
    // sharing NO word-5-gram with the test split. Bloom false positives
    // move docs between the two paths but never change the kept set,
    // which is why the gate is SQL-oracle-able even though xxhash64 isn't.
    "q179_streaming_decontamination_gate" -> ((s, dir) =>
      ResultMemo.getOrCompute(s, "sdcgate", dir) {
        import s.implicits._
        withGateScratch("graft-q179", s) { base =>
          val src = GateFixtures.parquet(dir, "q179") {
            val prof = DocProfiles.profiled(s, dir)
              .select($"doc_id", $"pct", $"text")
            val planted = prof.where($"pct" >= 0.9).orderBy($"doc_id").limit(5)
              .select(($"doc_id" + 100000L).as("doc_id"), $"text")
            prof.where($"pct" < 0.8).select($"doc_id", $"text")
              .unionAll(planted)
          }
          val testGrams = DocProfiles.testGrams(s, dir)
          val bloom = testGramBloom(s, dir) // stored-tier, shared with q193
          val stream = s.readStream.schema(s.read.parquet(src).schema).parquet(src)
          val verdicts = scala.collection.mutable.Buffer.empty[(Long, Boolean)]
          drain(StreamingDecontamination.flag(stream, "text", bloom)
              .select($"doc_id", $"suspect").as[(Long, Boolean)],
            s"$base/ckpt", "append") { (b, _) =>
            verdicts.synchronized { verdicts ++= b.collect() }
          }
          val cleanIds = verdicts.collect { case (id, false) => id }.toSeq
          val suspectIds = verdicts.collect { case (id, true) => id }.toSeq
          // exact settle of the streamed suspect residue (the operator's
          // foreachBatch step): recompute ghs batch-side — flag() is
          // deterministic, so these are the grams the stream carried
          val arrDf = s.read.parquet(src)
          val suspects = StreamingDecontamination.flag(arrDf, "text", bloom)
            .join(suspectIds.toDF("doc_id"), Seq("doc_id"), "left_semi")
          val settled = StreamingDecontamination.settle(suspects, testGrams)
            .select($"doc_id").as[Long].collect().toSeq
          (cleanIds ++ settled).sorted.toDF("doc_id").orderBy($"doc_id")
        }
      }),

    // STREAMING QUANTILE GATE — StreamingQuantile's bounded-state sketch
    // (q119's portable log-binned histogram kept per group in the state
    // store) drained over the full lineitem price stream grouped by
    // return flag. The oracle recomputes q119's engine-neutral law per
    // group — integer cents, bit-length octave, 6-bit sub-bucket,
    // midpoint of the first bucket past ceil(q·n) — which the streaming
    // fold matches EXACTLY (the sketch is order-insensitive integer
    // counting, so stream==batch by construction; StreamingQuantileSpec
    // pins it). State is ≤64 sub-buckets per octave per group regardless
    // of stream length — the 100 TB shape for percentiles-at-ingest.
    "q180_streaming_quantile_gate" -> ((s, dir) =>
      ResultMemo.getOrCompute(s, "sqgate", dir) {
        import s.implicits._
        withGateScratch("graft-q180", s) { base =>
          val src = GateFixtures.parquet(dir, "q180") {
            Tables.lineitem(s, dir)
              .select($"l_returnflag".as("grp"), $"l_extendedprice".as("v"))
          }
          val stream = s.readStream.schema(s.read.parquet(src).schema).parquet(src)
          // Update-mode: keep the LAST estimate per (grp, q) — one staged
          // file means one micro-batch, but the fold is correct either way
          val last = scala.collection.mutable.Map.empty[(String, String), (Long, StreamingQuantile.QuantileEstimate)]
          drain(StreamingQuantile.quantiles(stream, "grp", "v"),
            s"$base/ckpt", "update") { (b, id) =>
            last.synchronized {
              b.collect().foreach { e =>
                val k = (e.group, e.q)
                if (!last.get(k).exists(_._1 > id)) last(k) = (id, e)
              }
            }
          }
          last.values.map(_._2).toSeq.sortBy(e => (e.group, e.q))
            .toDF("grp", "q", "est", "n")
            .select($"grp", $"q", round($"est", 2).as("est_price"), $"n")
            .orderBy($"grp", $"q")
        }
      }),

    // STREAMING DEDUP GATE — StreamingDedup.withinWatermark (Spark's
    // dropDuplicatesWithinWatermark, RocksDB-backed state evicted as the
    // watermark passes) over the event log plus planted redeliveries
    // (exact row copies of every event_id % 7 == 0 — the at-least-once
    // delivery duplicate a bus actually produces). The gate returns the
    // post-dedup per-type counts; the oracle is the exactly-once law
    // itself: count(DISTINCT event_id) per type over the same doubled
    // fixture. Duplicate rows are bit-identical, so keep-first is
    // deterministic regardless of which physical copy survives.
    "q182_streaming_dedup_gate" -> ((s, dir) =>
      ResultMemo.getOrCompute(s, "sddgate", dir) {
        import s.implicits._
        withGateScratch("graft-q182", s) { base =>
          val src = GateFixtures.parquet(dir, "q182") {
            val ev = Tables.events(s, dir)
              .select($"event_id", $"event_type", $"ts")
            ev.unionAll(ev.where($"event_id" % 7 === 0))
          }
          val stream = s.readStream.schema(s.read.parquet(src).schema).parquet(src)
          val counts = scala.collection.mutable.Map.empty[String, Long]
          drain(StreamingDedup.withinWatermark(stream, "ts", "1 hour", Seq("event_id"))
              .select($"event_type"), s"$base/ckpt", "append") { (b, _) =>
            counts.synchronized {
              b.groupBy($"event_type").count().collect().foreach { r =>
                val k = r.getString(0)
                counts(k) = counts.getOrElse(k, 0L) + r.getLong(1)
              }
            }
          }
          counts.toSeq.sortBy(_._1).toDF("event_type", "n_events")
            .orderBy($"event_type")
        }
      }),

    // STREAMING CURATION GATE — StreamingCuration.curate at ingest: the
    // q55 quality law scores each arriving doc, sub-threshold docs drop,
    // and re-published bodies (planted: every doc_id < 30 re-keyed
    // +100000 with identical text) collapse by content hash. The gate
    // returns the kept content-hash set with each hash's candidate count
    // (recomputed batch-side — the kept ROW is arrival-order-dependent,
    // the kept HASH set is not, which is the deterministic surface); the
    // oracle respells the law: distinct md5(text) over quality-passing
    // arrivals, counts included.
    "q183_streaming_curation_gate" -> ((s, dir) =>
      ResultMemo.getOrCompute(s, "scurgate", dir) {
        import s.implicits._
        withGateScratch("graft-q183", s) { base =>
          val src = GateFixtures.parquet(dir, "q183") {
            val docs = Tables.documents(s, dir).select($"doc_id", $"text")
            docs.unionAll(docs.where($"doc_id" < 30)
              .select(($"doc_id" + 100000L).as("doc_id"), $"text"))
          }
          val stream = s.readStream.schema(s.read.parquet(src).schema).parquet(src)
          val kept = scala.collection.mutable.Buffer.empty[String]
          drain(StreamingCuration.curate(stream, "text", minQuality = 0.5)
              .select(md5($"text".cast("binary")).as("ch")).as[String],
            s"$base/ckpt", "append") { (b, _) =>
            kept.synchronized { kept ++= b.collect() }
          }
          val candidates = s.read.parquet(src)
            .where(StreamingCuration.quality($"text") >= 0.5)
            .groupBy(md5($"text".cast("binary")).as("ch"))
            .agg(count(lit(1)).as("n_candidates"))
          // materialize before the scratch dir (the plan's source) is
          // deleted — the result is hash-set-sized
          kept.toSeq.toDF("ch").distinct()
            .join(candidates, Seq("ch"))
            .as[(String, Long)].collect().toSeq.sorted
            .toDF("ch", "n_candidates")
            .orderBy($"ch")
        }
      }),

    // STREAMING DRIFT GATE — StreamingDrift.monitor per event type: the
    // first refN=100 observations (in deterministic value-then-arrival
    // fold order — within one micro-batch, the 100 smallest values)
    // freeze the reference histogram; the batch remainder is scored by
    // total-variation distance. tvd uses an exact integer numerator
    // (Σ|a_i·tb − b_i·ta| / (2·ta·tb)) so the double is
    // engine-reproducible and the oracle can respell the whole monitor:
    // rank per key by value, first 100 = reference, bucket both parts,
    // one integer fold, one division.
    "q184_streaming_drift_gate" -> ((s, dir) =>
      ResultMemo.getOrCompute(s, "sdrgate", dir) {
        import s.implicits._
        withGateScratch("graft-q184", s) { base =>
          val src = GateFixtures.parquet(dir, "q184") {
            Tables.events(s, dir).select($"event_type", $"value")
          }
          val stream = s.readStream.schema(s.read.parquet(src).schema).parquet(src)
          val reports = scala.collection.mutable.Buffer.empty[StreamingDrift.DriftReport]
          drain(StreamingDrift.monitor(stream, "event_type", "value",
              nBuckets = 16, bucketWidth = 25.0, refN = 100L, threshold = 0.2),
            s"$base/ckpt", "update") { (b, _) =>
            reports.synchronized { reports ++= b.collect() }
          }
          reports.toSeq.sortBy(_.key)
            .toDF("key", "batch", "n", "tvd", "alert")
            .select($"key", $"batch", $"n", round($"tvd", 6).as("tvd"), $"alert")
            .orderBy($"key")
        }
      }),

    // STREAMING TOP-K GATE — StreamingTopK's Space-Saving sketch per
    // event type over a 200-value item domain (user_id % 200). With
    // capacity (256) above the domain size the sketch NEVER evicts, so
    // Space-Saving degenerates to exact counting — the "exact when
    // possible" half of the paper's guarantee, and the half an oracle
    // can hash-check: top-10 by (count desc, item asc) with err = 0.
    // (The eviction half is property-tested against brute force in
    // LawProps.) State is ≤ capacity triples per group either way.
    "q185_streaming_topk_gate" -> ((s, dir) =>
      ResultMemo.getOrCompute(s, "stkgate", dir) {
        import s.implicits._
        withGateScratch("graft-q185", s) { base =>
          val src = GateFixtures.parquet(dir, "q185") {
            Tables.events(s, dir)
              .select($"event_type".as("grp"), $"ts",
                ($"user_id" % 200).cast("string").as("item"))
          }
          val stream = s.readStream.schema(s.read.parquet(src).schema).parquet(src)
          val hits = scala.collection.mutable.Buffer.empty[StreamingTopK.HeavyHitter]
          drain(StreamingTopK.topK(stream, "grp", "ts", "item", k = 10, capacity = 256),
            s"$base/ckpt", "update") { (b, _) =>
            hits.synchronized { hits ++= b.collect() }
          }
          hits.toSeq.sortBy(h => (h.group, h.rank))
            .toDF("grp", "item", "count", "err", "rank")
            .orderBy($"grp", $"rank")
        }
      }),

    // STREAMING ANOMALY GATE — StreamingAnomaly's prequential Welford
    // monitor per event type: each observation is z-scored against the
    // state accumulated strictly BEFORE it (fold order = (event-time ms,
    // value), the operator's batching-invariance order), then folded in.
    // The oracle respells the prequential law with window aggregates
    // over the same prefix order: avg/stddev_samp over ROWS UNBOUNDED
    // PRECEDING .. 1 PRECEDING. Welford and the two-pass window stddev
    // are algebraically identical; z rounds to 6dp on both sides.
    "q186_streaming_anomaly_gate" -> ((s, dir) =>
      ResultMemo.getOrCompute(s, "sangate", dir) {
        import s.implicits._
        withGateScratch("graft-q186", s) { base =>
          val src = GateFixtures.parquet(dir, "q186") {
            Tables.events(s, dir).select($"event_type", $"ts", $"value")
          }
          val stream = s.readStream.schema(s.read.parquet(src).schema).parquet(src)
          val out = scala.collection.mutable.Buffer.empty[StreamingAnomaly.Anomaly]
          drain(StreamingAnomaly.detect(stream, "event_type", "ts", "value",
              threshold = 3.0, minObservations = 5),
            s"$base/ckpt", "update") { (b, _) =>
            out.synchronized { out ++= b.collect() }
          }
          out.toSeq.sortBy(a => (a.key, a.ts.getTime, a.value))
            .toDF("key", "ts", "value", "z", "nSeen")
            .select($"key", $"ts", $"value", round($"z", 6).as("z"),
              $"nSeen".as("n_seen"))
            .orderBy($"key", $"ts", $"value")
        }
      }),

    // STREAM-STREAM CORRELATION GATE — StreamCorrelator's watermarked
    // interval join run as a REAL two-stream join through the state
    // store: views matched to the same cohort's purchases within one
    // event-time day. An inner interval join emits a pair as soon as
    // both sides have arrived (the watermark bounds state, not
    // emission), so the one-batch drain emits exactly the batch law —
    // the oracle is the plain SQL interval join, rolled up per cohort
    // with an exact integer gap sum.
    "q187_stream_correlate_gate" -> ((s, dir) =>
      ResultMemo.getOrCompute(s, "scorgate", dir) {
        import s.implicits._
        withGateScratch("graft-q187", s) { base =>
          val ev = Tables.events(s, dir)
          def side(tpe: String, p: String) = ev.where($"event_type" === tpe)
            .select(($"user_id" % 100).as(s"${p}_key"), $"ts".as(s"${p}_ts"),
              $"event_id".as(s"${p}_id"))
          val lsrc = GateFixtures.parquet(dir, "q187l")(side("view", "l"))
          val rsrc = GateFixtures.parquet(dir, "q187r")(side("purchase", "r"))
          val l = s.readStream.schema(s.read.parquet(lsrc).schema).parquet(lsrc)
          val r = s.readStream.schema(s.read.parquet(rsrc).schema).parquet(rsrc)
          val joined = StreamCorrelator.correlate(
            l, "l_ts", "l_key", r, "r_ts", "r_key",
            within = "1 day", delay = "1 day")
          val pairs = scala.collection.mutable.Buffer.empty[(Long, Long, Long)]
          drain(joined.select($"l_key",
              (unix_micros($"r_ts") - unix_micros($"l_ts")).as("gap_us"),
              $"l_id").as[(Long, Long, Long)],
            s"$base/ckpt", "append") { (b, _) =>
            pairs.synchronized { pairs ++= b.collect() }
          }
          pairs.toSeq.groupBy(_._1).toSeq
            .map { case (k, g) => (k, g.size.toLong, g.map(_._2).sum) }
            .sortBy(_._1)
            .toDF("cohort", "n_pairs", "sum_gap_us")
            .orderBy($"cohort")
        }
      }),

    // STREAMING HEARTBEAT GATE — watermark-driven silent-key detection:
    // per 50-user cohort, state holds only the last event time; an
    // EVENT-TIME timeout fires when the watermark (stream time, never
    // wall clock) passes lastSeen + 6h. The drain stages the log, arms
    // every cohort, then appends one sentinel event 2h past the log's
    // end — the watermark advances to sentinel − 10min and the provably
    // silent cohorts fire (some via the no-data batch Spark runs when a
    // watermark advance leaves pending timeouts). The oracle is the
    // silence law in exact millisecond arithmetic (the operator's
    // Timestamp.getTime space): fire iff lastSeen_ms + 6h < wm_ms.
    "q188_streaming_heartbeat_gate" -> ((s, dir) =>
      ResultMemo.getOrCompute(s, "shbgate", dir) {
        import s.implicits._
        withGateScratch("graft-q188", s) { base =>
          // main + sentinel staged as a TWO-BATCH fixture (sentinel file
          // mtime-forced later, maxFilesPerTrigger=1): one drain — the
          // watermark advances past the log between micro-batches and
          // the silent cohorts fire in the trailing no-data batch
          // (replaces the former drain / append sentinel / drain again;
          // sentinel arrival 2h past the log → watermark maxTs + 110min)
          def shaped = Tables.events(s, dir)
            .select(($"user_id" % 50).cast("string").as("key"), $"ts")
          val src = GateFixtures.parquetWithSentinel(dir, "q188")(shaped) {
            val maxTs = shaped.agg(max($"ts")).collect()(0).getTimestamp(0)
            Seq(("~sentinel",
              new java.sql.Timestamp(maxTs.getTime + 2L * 3600 * 1000)))
              .toDF("key", "ts")
          }
          val alerts = scala.collection.mutable.Buffer.empty[StreamingHeartbeat.Silence]
          val stream = s.readStream.schema(s.read.parquet(src).schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src).withWatermark("ts", "10 minutes")
          drain(StreamingHeartbeat.detect(stream, "key", "ts",
              silenceMs = 6L * 3600 * 1000),
            s"$base/ckpt", "append") { (b, _) =>
            alerts.synchronized { alerts ++= b.collect() }
          }
          alerts.toSeq.filter(_.key != "~sentinel").sortBy(_.key)
            .toDF("key", "last_seen", "deadline")
            .orderBy($"key")
        }
      }),

    // STREAMING INGEST FUNNEL — the three gates COMPOSED in one
    // streaming query, the way a production ingest actually runs them:
    // quality gate (q55 law) → exact content dedup (keep-first per
    // md5(text)) → decontamination flag (Bloom probe), with the suspect
    // residue settled exactly per micro-batch. Arrivals = the corpus
    // plus planted exact re-publications (+100000, doc_id < 25) plus
    // planted test-doc copies (+200000, 5 docs). The gate returns the
    // funnel's SURVIVOR SET as content hashes (the arrival-order-
    // invariant surface); the oracle composes the three batch laws:
    // distinct md5(text) of quality-passing arrivals sharing no
    // word-5-gram with the test split. One stream, three operators,
    // one hash-checked law — the composition IS the capability.
    "q193_streaming_ingest_funnel" -> ((s, dir) =>
      ResultMemo.getOrCompute(s, "sfungate", dir) {
        import s.implicits._
        withGateScratch("graft-q193", s) { base =>
          val prof = DocProfiles.profiled(s, dir)
            .select($"doc_id", $"pct", $"text")
          val docs = Tables.documents(s, dir).select($"doc_id", $"text")
          val src = GateFixtures.parquet(dir, "q193") {
            docs
              .unionAll(docs.where($"doc_id" < 25)
                .select(($"doc_id" + 100000L).as("doc_id"), $"text"))
              .unionAll(prof.where($"pct" >= 0.9).orderBy($"doc_id").limit(5)
                .select(($"doc_id" + 200000L).as("doc_id"), $"text"))
          }
          val testGrams = DocProfiles.testGrams(s, dir)
          val bloom = testGramBloom(s, dir) // stored-tier, shared with q179
          val stream = s.readStream.schema(s.read.parquet(src).schema).parquet(src)
          // stage 1+2 (stateful) then stage 3 (stateless flag) in ONE query
          val funnel = StreamingDecontamination.flag(
            StreamingCuration.curate(stream, "text", minQuality = 0.5),
            "text", bloom)
          val out = scala.collection.mutable.Buffer.empty[(String, Boolean)]
          drain(funnel.select(md5($"text".cast("binary")).as("ch"), $"suspect")
              .as[(String, Boolean)], s"$base/ckpt", "append") { (b, _) =>
            out.synchronized { out ++= b.collect() }
          }
          val cleanCh = out.toSeq.collect { case (ch, false) => ch }
          val suspectCh = out.toSeq.collect { case (ch, true) => ch }.distinct
          // exact settle of the suspect residue at hash granularity: a
          // hash survives iff its text shares no gram with the test set
          val settled =
            if (suspectCh.isEmpty) Seq.empty[String]
            else {
              val texts = s.read.parquet(src)
                .withColumn("ch", md5($"text".cast("binary")))
                .join(suspectCh.toDF("ch"), Seq("ch"), "left_semi")
                .select($"ch", $"text").dropDuplicates("ch")
              StreamingDecontamination.settle(
                StreamingDecontamination.flag(texts, "text", bloom)
                  .withColumnRenamed("ch", "doc_ch"), testGrams, "doc_ch")
                .select($"doc_ch").as[String].collect().toSeq
            }
          (cleanCh ++ settled).distinct.sorted.toDF("ch").orderBy($"ch")
        }
      }),

    // UNANSWERED-REQUEST GATE — StreamCorrelator.unanswered, the OUTER
    // half q187 doesn't exercise: views that never saw a same-cohort
    // purchase within one event-time day, emitted only once the
    // watermark proves a match impossible. The drain processes the two
    // staged streams (arming join state), then appends one sentinel
    // event 30 days past the log to BOTH sides — the watermark sails
    // past every view's deadline, so exactly the provably-unanswered
    // views flush (no boundary arithmetic left in the law). Oracle =
    // the plain SQL anti-join: views with no purchase in
    // [ts, ts + 1 day] for their cohort.
    "q195_stream_unanswered_gate" -> ((s, dir) =>
      ResultMemo.getOrCompute(s, "sunagate", dir) {
        import s.implicits._
        withGateScratch("graft-q195", s) { base =>
          val ev = Tables.events(s, dir)
          def side(tpe: String, p: String) = ev.where($"event_type" === tpe)
            .select(($"user_id" % 100).as(s"${p}_key"), $"ts".as(s"${p}_ts"),
              $"event_id".as(s"${p}_id"))
          // each side staged with its own mtime-forced sentinel file
          // (30 days past the log — the watermark sails past every
          // view's deadline in batch 2): ONE two-batch drain replaces
          // the former drain / append sentinels / drain again
          def far = new java.sql.Timestamp(
            ev.agg(max($"ts")).collect()(0).getTimestamp(0).getTime +
              30L * 24 * 3600 * 1000)
          val lsrc = GateFixtures.parquetWithSentinel(dir, "q195l")(
            side("view", "l"))(
            Seq((-1L, far, -1L)).toDF("l_key", "l_ts", "l_id"))
          val rsrc = GateFixtures.parquetWithSentinel(dir, "q195r")(
            side("purchase", "r"))(
            Seq((-1L, far, -1L)).toDF("r_key", "r_ts", "r_id"))
          val out = scala.collection.mutable.Buffer.empty[(Long, Long)]
          val l = s.readStream.schema(s.read.parquet(lsrc).schema)
            .option("maxFilesPerTrigger", 1).parquet(lsrc)
          val r = s.readStream.schema(s.read.parquet(rsrc).schema)
            .option("maxFilesPerTrigger", 1).parquet(rsrc)
          drain(StreamCorrelator.unanswered(
              l, "l_ts", "l_key", r, "r_ts", "r_key",
              within = "1 day", delay = "1 day")
              .select($"l_key", $"l_id").as[(Long, Long)],
            s"$base/ckpt", "append") { (b, _) =>
            out.synchronized { out ++= b.collect() }
          }
          out.toSeq.filter(_._1 >= 0L).groupBy(_._1).toSeq
            .map { case (k, g) => (k, g.size.toLong) }
            .sortBy(_._1)
            .toDF("cohort", "n_unanswered")
            .orderBy($"cohort")
        }
      }),

    // DELIVERY-SEMANTICS GATE — the REFERENCE'S HEART driver-gated end
    // to end: the event log staged as an envelope topic, drained through
    // a real StreamingSubscription with a type filter (F2/F3), a handler
    // that permanently fails every event whose id ends "00"
    // (event_id % 100 == 0 under the %012d id law), bounded retries
    // (maxRetries = 2), and dead-letter capture on exhaustion (T3/T4).
    // The gate returns per-type delivered/dead-lettered counts — BOTH
    // independently measured (deliveries via per-type accumulators
    // incremented inside the handler, dead-letters off the DLQ); the
    // oracle is the delivery law itself: filtered types only, every
    // failing event dead-letters EXACTLY once, everything else
    // delivers exactly once. This hash-checks the retry/DLQ bookkeeping the
    // reference's tests assert in-process (broker_test.ts,
    // deadletter_test.ts), at the driver gate.
    "q201_delivery_gate" -> ((s, dir) =>
      ResultMemo.getOrCompute(s, "delgate", dir) {
        import s.implicits._
        withGateScratch("graft-q201", s) { base =>
          val types = Seq("error", "purchase", "view")
          // the staged envelope log is shared with q202 (byte-identical
          // staging; both gates only READ it — subscriptions drain, the
          // retry path delivers via handlers, nothing appends)
          val logDir = envelopeLog(s, dir)
          val dlq = new graft.dlq.InMemoryDeadLetterQueue()
          // n_delivered is MEASURED, not derived as total − dead (r7
          // advisor finding: the derived spelling would still hash-match
          // if the subscription silently dropped or double-delivered
          // without dead-lettering). One LongAccumulator per type,
          // incremented only when the handler completes — accumulators
          // merge from executor tasks, so this counts actual successful
          // handler invocations in distributed delivery, and a dropped or
          // doubled event now breaks the hash.
          val delivered = types
            .map(t => t -> s.sparkContext.longAccumulator(s"q201-delivered-$t"))
            .toMap
          val handler: graft.model.EventRow => Unit = { e =>
            if (e.id.endsWith("00"))
              throw new RuntimeException("gate-injected permanent fault")
            delivered.get(e.`type`).foreach(_.add(1L))
          }
          val sub = new graft.streaming.StreamingSubscription(
            s, logDir, s"$base/ckpt", handler, dlq,
            topicName = Some("gate-events"),
            options = graft.broker.SubscriptionOptions(
              name = Some("q201-gate"), receiveHistoricalEvents = true,
              eventTypes = types, maxRetries = 2, retryDelayMillis = 0L),
            ordered = false)
          sub.runAvailable()
          types.sorted.map { t =>
            val dead = dlq.getEvents(None, Some(t), None).size.toLong
            (t, delivered(t).value.longValue, dead)
          }.toDF("event_type", "n_delivered", "n_dead_lettered")
            .orderBy($"event_type")
        }
      }),

    // DLQ RETRY RE-DISPATCH GATE (T5) — the other half of the q201 story,
    // the reference's retryDeadLetterEvent path (broker.ts:166-183 looks
    // up the failed event's subscription and re-delivers; deadletter.ts:
    // 78-103: success removes the entry, failure bumps attempts and
    // refreshes the error). Drain the staged envelope log through a
    // StreamingSubscription whose handler permanently faults every
    // id-ends-"00" event (dead-letters with attempts = 1, the q201 law),
    // then register a RETRY-phase handler on the broker's topic that
    // heals the TRANSIENT half (event_id % 100 == 0 but % 200 != 0 now
    // succeeds; % 200 == 0 keeps failing) and run
    // broker.retryDeadLetterEvent over every entry. The gate emits the
    // full bookkeeping law per type: dead-after-drain, retry successes
    // (measured from retryEvent's return AND cross-checked against the
    // final queue), survivors, and the survivors' attempts counter
    // (1 initial + 1 failed retry = 2). Scale shape: the DLQ holds
    // failures only (bounded by fault rate, not corpus size); re-dispatch
    // is the reference's per-event driver loop by design — bulk recovery
    // at 100 TB is the DLQ-as-table path (q64) feeding a fresh batch
    // publish, which this gate deliberately does not replace.
    "q202_dlq_retry_gate" -> ((s, dir) =>
      ResultMemo.getOrCompute(s, "dlqretry", dir) {
        import s.implicits._
        withGateScratch("graft-q202", s) { base =>
          val types = Seq("error", "purchase", "view")
          val logDir = envelopeLog(s, dir) // shared with q201 (read-only)
          val dlq = new graft.dlq.InMemoryDeadLetterQueue()
          val broker = new graft.broker.EventBroker(s, logDir, dlq)
          val topic = broker.createTopic("gate-events")
          val drainHandler: graft.model.EventRow => Unit = { e =>
            if (e.id.endsWith("00"))
              throw new RuntimeException("gate-injected fault (drain phase)")
          }
          val sub = new graft.streaming.StreamingSubscription(
            s, logDir, s"$base/ckpt", drainHandler, dlq,
            topicName = Some("gate-events"),
            options = graft.broker.SubscriptionOptions(
              name = Some("q202-gate"), receiveHistoricalEvents = true,
              eventTypes = types, maxRetries = 2, retryDelayMillis = 0L),
            ordered = false)
          sub.runAvailable()
          val deadAfterDrain = dlq.getEvents(None, None, None)
          val nDead = deadAfterDrain.groupBy(_.event.`type`)
            .view.mapValues(_.size.toLong).toMap
          // Retry phase: the transient half healed, the permanent half
          // still faulting — the retry handler is re-registered driver-side
          // exactly as a recovered consumer re-attaches in the reference's
          // deadletter_test.ts retry suites.
          topic.registerRetryHandler(sub.id, { e =>
            if (e.id.toLong % 200L == 0L)
              throw new RuntimeException("gate-injected fault (still failing)")
          })
          val retryOk = scala.collection.mutable.Map.empty[String, Long]
          deadAfterDrain.sortBy(_.event.id).foreach { entry =>
            if (broker.retryDeadLetterEvent(entry.event.id))
              retryOk.updateWith(entry.event.`type`)(n => Some(n.getOrElse(0L) + 1L))
          }
          val remaining = dlq.getEvents(None, None, None)
          val nStill = remaining.groupBy(_.event.`type`)
            .view.mapValues(_.size.toLong).toMap
          val maxAttempts = remaining.groupBy(_.event.`type`)
            .view.mapValues(_.map(_.attempts.toLong).max).toMap
          types.sorted.map { t =>
            (t, nDead.getOrElse(t, 0L), retryOk.getOrElse(t, 0L),
              nStill.getOrElse(t, 0L), maxAttempts.getOrElse(t, 0L))
          }.toDF("event_type", "n_dead", "n_retry_ok", "n_still_dead", "max_attempts")
            .orderBy($"event_type")
        }
      }),

    // STREAMING AS-OF ENRICH GATE — the last marquee streaming operator
    // graduated from spec-only to driver-gated: every view event enriched
    // with the latest STRICTLY-prior purchase of its cohort
    // (user_id % 50), run as the real flatMapGroupsWithState operator
    // (StreamingAsOfEnrich.enrich — per-key state bounded by the
    // in-flight window plus ONE compacted right). Two drains: the first
    // arms state over the staged streams, then a far-future sentinel on
    // BOTH sides pushes the union watermark past every view so the
    // matches finalize exactly once (the q195 sentinel pattern — no
    // watermark arithmetic survives into the law). The law is the batch
    // as-of join itself, per cohort: view count, matched count, and the
    // exact integer sum of view−purchase gaps in MICROSECONDS (the
    // operator's own comparison space), which a dropped, doubled, or
    // mis-matched row cannot leave intact. Oracle = the same as-of law
    // as plain SQL (greatest (ts, id) pair strictly below the view's).
    "q203_streaming_asof_gate" -> ((s, dir) =>
      ResultMemo.getOrCompute(s, "sasofgate", dir) {
        import s.implicits._
        withGateScratch("graft-q203", s) { base =>
          val ev = Tables.events(s, dir)
          def side(tpe: String) = ev.where($"event_type" === tpe)
            .select(($"user_id" % 50).cast("string").as("k"), $"ts",
              format_string("%012d", $"event_id").as("p"))
          // each side staged with its own mtime-forced far-future
          // sentinel ("zz", 30 days past the log): ONE two-batch drain —
          // batch 2 pushes the union watermark past every view so the
          // matches finalize exactly once (the q195 sentinel pattern)
          def far = new java.sql.Timestamp(
            ev.agg(max($"ts")).collect()(0).getTimestamp(0).getTime +
              30L * 24 * 3600 * 1000)
          val lsrc = GateFixtures.parquetWithSentinel(dir, "q203l")(
            side("view"))(Seq(("zz", far, "zz")).toDF("k", "ts", "p"))
          val rsrc = GateFixtures.parquetWithSentinel(dir, "q203r")(
            side("purchase"))(Seq(("zz", far, "zz")).toDF("k", "ts", "p"))
          val agg = scala.collection.mutable.Map.empty[Long, (Long, Long, Long)]
          locally {
            def src(p: String) = s.readStream
              .schema(s.read.parquet(p).schema)
              .option("maxFilesPerTrigger", 1).parquet(p)
              .withWatermark("ts", "1 hour")
            drain(graft.streaming.StreamingAsOfEnrich.enrich(
                src(lsrc), src(rsrc), "k", "ts", "p", strict = true),
              s"$base/ckpt", "append") { (b, _) =>
              val rows = b.filter($"key" =!= "zz")
                .groupBy($"key".cast("long").as("cohort"))
                .agg(count(lit(1)).as("n"),
                  count($"matched_ts").as("nm"),
                  coalesce(sum(unix_micros($"ts") - unix_micros($"matched_ts")),
                    lit(0L)).as("gap"))
                .as[(Long, Long, Long, Long)].collect()
              agg.synchronized {
                rows.foreach { case (c, n, nm, g) =>
                  val (pn, pm, pg) = agg.getOrElse(c, (0L, 0L, 0L))
                  agg(c) = (pn + n, pm + nm, pg + g)
                }
              }
            }
          }
          agg.toSeq.sortBy(_._1)
            .map { case (c, (n, nm, g)) => (c, n, nm, g) }
            .toDF("cohort", "n_views", "n_matched", "sum_gap_us")
            .orderBy($"cohort")
        }
      }),

    // STREAMING SESSIONIZATION GATE — q22's session table produced by the
    // LIVE operator: the full event log streamed through Spark's native
    // session_window aggregation (StreamingSessionize — engine-managed
    // merging session state, one open range per (user, session)), closed
    // sessions collected in append mode after the sentinel advances the
    // watermark past every event. The law is q22's gaps-and-islands
    // spelling VERBATIM (Spark's session ranges merge when they touch,
    // so `> 30 min` starts a new session — the exact-gap case is pinned
    // by StreamingSessionizeSpec); session ids are ordinals by session
    // start within each user, so the table is q22-shaped and the oracle
    // is q22's SQL unchanged.
    "q204_streaming_sessionize_gate" -> ((s, dir) =>
      ResultMemo.getOrCompute(s, "ssessgate", dir) {
        import s.implicits._
        withGateScratch("graft-q204", s) { base =>
          val ev = Tables.events(s, dir)
          // main + mtime-forced sentinel ("zz", 30 days past the log) as
          // a two-batch fixture: one drain — the sentinel batch advances
          // the watermark past every event so all sessions close
          val src = GateFixtures.parquetWithSentinel(dir, "q204")(
            ev.select($"user_id".cast("string").as("k"), $"ts")) {
            val maxTs = ev.agg(max($"ts")).collect()(0).getTimestamp(0)
            Seq(("zz",
              new java.sql.Timestamp(maxTs.getTime + 30L * 24 * 3600 * 1000)))
              .toDF("k", "ts")
          }
          val out = scala.collection.mutable.Buffer
            .empty[graft.streaming.StreamingSessionize.Session]
          val stream = s.readStream.schema(s.read.parquet(src).schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src).withWatermark("ts", "1 hour")
          drain(graft.streaming.StreamingSessionize.sessions(
              stream, "k", "ts", "30 minutes"),
            s"$base/ckpt", "append") { (b, _) =>
            out.synchronized { out ++= b.collect() }
          }
          val w = Window.partitionBy($"user_id").orderBy($"session_start".asc)
          // cached+forced: the session table is tens of thousands of rows
          // (one per session, not per event) and the memoized DF is LAZY —
          // without this, every bench pass re-runs the ordinal window over
          // the driver-local rows
          val res =
            out.toSeq.filter(_.key != "zz")
              .map(x => (x.key.toLong, x.session_start, x.session_end, x.n_events))
              .toDF("user_id", "session_start", "session_end", "n_events")
              .withColumn("session_id", row_number().over(w).cast("long"))
              .select($"user_id", $"session_id", $"n_events",
                $"session_start", $"session_end")
              .orderBy($"user_id", $"session_id")
              .cache()
          res.count()
          res
        }
      }),

    // EXACTLY-ONCE SINK GATE — IdempotentParquetSink graduated from
    // spec-only to driver-gated: a bounded slice of the event log streams
    // through the replay-safe foreachBatch writer (one file per
    // micro-batch), then the ENTIRE source replays from a FRESH
    // checkpoint — the worst-case recovery where every batch id is
    // re-delivered. The committed table must hold each event exactly
    // once: the staged-rename commit point skips already-committed batch
    // dirs, so the replay is a pure no-op. The law a double-write or a
    // half-write cannot leave intact: per event_type, row count ==
    // distinct event_ids == the source slice, and the exact id sum
    // matches. Oracle = the source slice aggregated directly; any
    // at-least-once duplication doubles n_events away from n_distinct.
    // At 100 TB the shape is unchanged: one existence check + one rename
    // per micro-batch, data jobs are ordinary distributed parquet writes.
    "q206_idempotent_sink_gate" -> ((s, dir) =>
      ResultMemo.getOrCompute(s, "idsink", dir) {
        import s.implicits._
        withGateScratch("graft-q206", s) { base =>
          val (src, out) = (s"$base/src", s"$base/out")
          // two files -> two micro-batch ids per drain: the replay law
          // (every batch id re-delivered against the committed table)
          // needs MULTIPLE ids, not four — half the per-batch commit
          // overhead at identical proof strength
          Tables.events(s, dir).where($"event_id" % 23 === 0)
            .select($"event_id", $"event_type", $"user_id", $"value")
            .repartition(2).write.mode("overwrite").parquet(src)
          def drainOnce(ckpt: String): Unit =
            drain(s.readStream.schema(s.read.parquet(src).schema)
                .option("maxFilesPerTrigger", 1).parquet(src),
              ckpt, "append")(graft.streaming.IdempotentParquetSink.writer(out))
          drainOnce(s"$base/ckpt1")
          // lost-checkpoint recovery: same files, fresh offsets — every
          // batch id replays against the already-committed table
          drainOnce(s"$base/ckpt2")
          // materialized to driver rows BEFORE the scratch dir dies (the
          // aggregate is one row per event type)
          graft.streaming.IdempotentParquetSink.read(s, out)
            .groupBy($"event_type")
            .agg(count(lit(1)).as("n_events"),
              countDistinct($"event_id").as("n_distinct"),
              sum($"event_id").as("sum_ids"))
            .as[(String, Long, Long, Long)].collect().toSeq.sorted
            .toDF("event_type", "n_events", "n_distinct", "sum_ids")
            .orderBy($"event_type")
        }
      }),

    // IDEMPOTENT BACKFILL GATE — operators.Backfill graduated from
    // spec-only to driver-gated: the daily (day, type) rollup is first
    // written CORRUPTED — counts doubled across the middle third of the
    // day span, plus a fabricated in-range partition no recompute would
    // produce — then Backfill.replaceRange heals exactly that range from
    // the source log. The returned table is the healed rollup end to end,
    // and the oracle is the straight rollup law, so every failure mode
    // breaks the hash from a different direction: unhealed days keep
    // their doubled counts, a transform leak clobbers the out-of-range
    // days (which only the CORRUPTED write produced correctly), and a
    // skipped stale-sweep leaves the fabricated partition's rows in the
    // scan. At 100 TB: the source scan prunes to the range, the rewrite
    // touches only in-range partition dirs, the sweep is a metadata
    // listing.
    "q207_backfill_gate" -> ((s, dir) =>
      ResultMemo.getOrCompute(s, "backfill", dir) {
        import s.implicits._
        withGateScratch("graft-q207", s) { base =>
          val tbl = s"$base/daily"
          val ev = Tables.events(s, dir)
          def rollup(src: DataFrame): DataFrame = src
            .groupBy(to_date($"ts").cast("string").as("day"), $"event_type")
            .agg(count(lit(1)).as("n"),
              sum($"value".cast("decimal(18,2)")).as("total"))
          val days = ev.select(to_date($"ts").cast("string").as("day"))
            .distinct().orderBy($"day").as[String].collect()
          val (from, to) = (days(days.length / 3), days(2 * days.length / 3))
          val fake = s"${from}_phantom" // lexically in [from, to], never recomputed
          rollup(ev)
            .withColumn("n",
              when($"day" >= from && $"day" <= to, $"n" * 2).otherwise($"n"))
            .unionByName(Seq((fake, "phantom", 1L, "0.00"))
              .toDF("day", "event_type", "n", "total")
              .withColumn("total", $"total".cast("decimal(28,2)")))
            .write.partitionBy("day").mode("overwrite").parquet(tbl)
          graft.operators.Backfill.replaceRange(s, ev, tbl, "day", from, to)(rollup)
          // materialized to driver rows BEFORE the scratch dir dies (one
          // row per (day, type) — group-count-sized, kilobytes)
          s.read.parquet(tbl)
            .select($"day".cast("string").as("day"), $"event_type", $"n",
              round($"total".cast("double"), 2).as("total_value"))
            .as[(String, String, Long, Double)].collect().toSeq
            .sortBy(r => (r._1, r._2))
            .toDF("day", "event_type", "n", "total_value")
            .orderBy($"day", $"event_type")
        }
      }),

    // EXACTLY-ONCE JDBC SINK GATE — JdbcExactlyOnceSink graduated from
    // spec-only to driver-gated: the q206 law against a RELATIONAL
    // target on embedded Derby. A bounded slice of the event log streams
    // through the staged-transactional foreachBatch writer
    // (executor-parallel stage inserts, ONE driver transaction per batch
    // moving stage → target + ledger + cleanup), then the whole source
    // replays from a FRESH checkpoint — every batch id re-delivered, the
    // ledger skips all of them. Two crash windows are modeled directly
    // on disjoint sub-slices: (A) executors staged but the driver died
    // before the commit transaction — stale staging rows under a ledger-
    // unknown batch id, then the writer re-delivers that id (clear,
    // re-stage, commit once); (B) a task retry staged one partition
    // TWICE under identical row_tags before a successful commit — the
    // commit's DISTINCT closes it. The law a double-insert, half-commit,
    // or replay leak cannot keep: per event_type, rows == distinct ids
    // and the exact id sum matches the source slice, and the LEDGER's
    // committed row mass equals the slice count (constant column).
    // Oracle = the slice aggregated directly. At 100 TB the shape is
    // unchanged: staging inserts scale with executors, the commit point
    // is one metadata-rate transaction per micro-batch.
    "q249_jdbc_exactly_once_gate" -> ((s, dir) =>
      ResultMemo.getOrCompute(s, "jdbcxo", dir) {
        import s.implicits._
        withGateScratch("graft-q249", s) { base =>
          val src = s"$base/src"
          val slice = Tables.events(s, dir).where($"event_id" % 97 === 0)
            .select($"event_id", $"event_type", $"user_id", $"value")
          // streamed part vs the two crash-window parts (disjoint — a
          // re-delivery under a NEW batch id is a double-insert by
          // design, so each sub-slice must arrive under exactly one id)
          // two files -> two batch ids per drain (the q206 rationale)
          slice.where($"user_id" % 7 =!= 3 && $"user_id" % 7 =!= 5)
            .repartition(2).write.mode("overwrite").parquet(src)
          val db = "q249_" + math.abs((dir + base).hashCode).toString
          val sink = new graft.streaming.JdbcExactlyOnceSink(
            s"jdbc:derby:memory:$db;create=true", "XO_EVENTS",
            Seq("event_id" -> "BIGINT", "event_type" -> "VARCHAR(32)",
              "user_id" -> "BIGINT", "value" -> "DOUBLE"))
          try {
            sink.initialize()
            val schema = s.read.parquet(src).schema
            def drainOnce(ckpt: String): Unit =
              drain(s.readStream.schema(schema)
                  .option("maxFilesPerTrigger", 1).parquet(src),
                ckpt, "append")(sink.writer)
            drainOnce(s"$base/ckpt1")
            // lost-checkpoint recovery: same files, fresh offsets — every
            // batch id replays against the committed ledger, all skipped
            drainOnce(s"$base/ckpt2")
            // crash window A: staged, no commit, then writer re-delivery
            val extraA = slice.where($"user_id" % 7 === 3)
            sink.stage(extraA.toDF(), 9999L)
            sink.writer(extraA.toDF(), 9999L)
            // crash window B: task retry double-staged one batch, then
            // the commit transaction runs — DISTINCT(row_tag, data)
            val extraB = slice.where($"user_id" % 7 === 5)
            sink.stage(extraB.toDF(), 8888L)
            sink.stage(extraB.toDF(), 8888L)
            sink.commitBatch(8888L)
            val ledgerMass = sink.ledgerDF(s)
              .agg(coalesce(sum($"n_rows"), lit(0L)).cast("long"))
              .as[Long].head()
            sink.committed(s)
              .groupBy($"event_type")
              .agg(count(lit(1)).as("n_events"),
                countDistinct($"event_id").as("n_distinct"),
                sum($"event_id").cast("long").as("sum_ids"))
              .withColumn("ledger_rows", lit(ledgerMass))
              .as[(String, Long, Long, Long, Long)].collect().toSeq.sorted
              .toDF("event_type", "n_events", "n_distinct", "sum_ids",
                "ledger_rows")
              .orderBy($"event_type")
          } finally sink.close()
        }
      }),

    // SCHEMA-VALIDATION GATE (V2/V3) — the reference's full acceptance law
    // (schema.ts:47-139) driven through `SchemaRegistry.validationColumn`
    // over a staged mixed-validity batch and hash-checked by the driver
    // (it was spec-only before r10). A two-type registry (nested object +
    // array-items schemas, versions 1.0 and 2.0) validates eight
    // deterministic payload classes keyed by event_id % 8; the oracle
    // respells each class's REQUIRED outcome in SQL, so a validator
    // regression on any clause — extra-props-pass, unregistered-pass,
    // version-mismatch-warns-AND-validates, required-prop, JS-integer
    // (5.0 is an integer), array-items recursion — flips an n_accepted
    // cell and breaks the hash. The slice is bounded (event_id < 4000:
    // the law is per-row; 500 rows per class prove it at every SF without
    // flooding stderr with the reference's per-row version warning).
    // Scale shape: one pushed-filter scan + a per-row UDF (the documented
    // §2.10 trade) + a ≤8-row Aggregate — report-memoized.
    "q250_schema_validation_gate" -> ((s, dir) =>
      ResultMemo.report(s, "schemagate", dir) {
        import s.implicits._
        val reg = new graft.schema.SchemaRegistry()
        reg.registerSchema("order",
          """{"type":"object","required":["amount","items"],
            |"properties":{"amount":{"type":"number"},
            |"items":{"type":"array","items":{"type":"string"}},
            |"meta":{"type":"object","required":["user"],
            |"properties":{"user":{"type":"string"}}}}}""".stripMargin,
          "1.0")
        reg.registerSchema("click",
          """{"type":"object","required":["target"],
            |"properties":{"target":{"type":"string"},
            |"count":{"type":"integer"}}}""".stripMargin,
          "2.0")
        val cls = ($"event_id" % 8).cast("int")
        val staged = Tables.events(s, dir).where($"event_id" < 4000)
          .select($"event_id", cls.as("cls"),
            when(cls === 4, "mystery")
              .when(cls.isin(5, 6), "click").otherwise("order").as("type"),
            lit("1.0").as("version"), // classes 5/6: registered is 2.0 → mismatch
            when(cls === 0, format_string(
                """{"amount": %d, "items": ["a","b"], "meta": {"user": "u%d"}}""",
                $"event_id", $"user_id"))
              .when(cls === 1, lit("""{"items": ["a"]}"""))
              .when(cls === 2, lit("""{"amount": "oops", "items": ["a"]}"""))
              .when(cls === 3,
                lit("""{"amount": 1, "items": [], "extra": {"deep": [1,2]}}"""))
              .when(cls === 4, lit("""{"whatever": 1}"""))
              .when(cls === 5, lit("""{"target": "t", "count": 3.0}"""))
              .when(cls === 6, lit("""{"target": 7}"""))
              .otherwise(lit("""{"amount": 2, "items": ["a", 5]}"""))
              .as("payload"))
        staged
          .withColumn("ok",
            reg.validationColumn($"type", $"version", $"payload"))
          .groupBy($"cls")
          .agg(count(lit(1)).as("n_events"),
            sum(when($"ok", 1L).otherwise(0L)).as("n_accepted"))
          .orderBy($"cls")
      }),

    // FILE-STORE IMPORT GATE (S2) — the reference's one-JSON-file-per-
    // event migration path (persistence.ts:141-207) driven end-to-end and
    // hash-checked by the driver (round-trip was spec-only before r10):
    // export a deterministic slice of the staged envelope log into the
    // reference layout (`baseDir/<topic>/<epochms>_<id>.json`, two
    // topics), then import the tree back. The ledger measures each leg
    // independently — files on disk per topic (listed, not derived), the
    // lexicographic-filename-order checksum Σ rank·event_id (the SURVEY
    // §2.3 O1 parity: the reference replays its store in filename order,
    // which must equal (ts, id) replay order — 13-digit epochms and the
    // %012d id law make lex == numeric), imported row count, id sum, and
    // the count of rows whose payload AND ms-grain timestamp round-
    // tripped byte-exactly (the reference stores Date.now() epoch ms, so
    // ms IS the layout's precision). Oracle = the slice aggregated
    // directly, its order checksum via row_number over (epoch_ms(ts),
    // event_id). Procedural by design (export/import side effects on
    // scratch); the importer itself is the production-shaped distributed
    // read (textFile glob + per-partition Jackson).
    "q251_filestore_import_gate" -> ((s, dir) =>
      ResultMemo.getOrCompute(s, "fsimp", dir) {
        import s.implicits._
        withGateScratch("graft-q251", s) { _ =>
          // modulus 211 (r14, was 53): ~500 files per sf0.1 topic still prove
          // the layout/order/round-trip laws file-for-file, and per-file
          // reader overhead (~0.7 ms each) was the gate's dominant cost
          val slice = Tables.events(s, dir).where($"event_id" % 211 === 0)
          def staged = slice.select(
              format_string("%012d", $"event_id").as("id"),
              $"event_type".as("type"),
              when($"user_id" % 2 === 0, "fs-a").otherwise("fs-b").as("topic"),
              $"ts".as("timestamp"),
              lit("1.0").as("schemaVersion"),
              $"props".as("payload"),
              map(lit("user_id"), $"user_id".cast("string")).as("metadata"))
            .as[graft.model.EventRow]
          // the reference-layout tree (one JSON file per event) is a pure
          // function of the sf dir — staged once per JVM; the per-call
          // gate work is the LAW: the lex listing + checksum measured off
          // the actual files, the distributed import, and the round-trip
          val store = GateFixtures.dir(dir, "q251store") { p =>
            graft.sources.FileStoreImporter.exportFrom(staged, p)
            ()
          }
          // the reference's replay order: LEXICOGRAPHIC filename listing
          // per topic directory (persistence.ts reads the dir sorted) —
          // measured from the actual files, never derived from the source
          import scala.jdk.CollectionConverters._
          val lex = Seq("fs-a", "fs-b").map { t =>
            val d = java.nio.file.Paths.get(store, t)
            val names =
              if (!java.nio.file.Files.isDirectory(d)) Seq.empty[String]
              else {
                val st = java.nio.file.Files.list(d)
                try st.iterator().asScala.map(_.getFileName.toString).toSeq.sorted
                finally st.close()
              }
            val ck = names.zipWithIndex.map { case (n, i) =>
              (i + 1).toLong * n.split('_')(1).stripSuffix(".json").toLong
            }.sum
            t -> ((names.size.toLong, ck))
          }.toMap
          // round-trip law: the payload that LEFT the store (the staged
          // props after the exporter's own JSON re-serialization —
          // Jackson canonical spacing, same tree) must come back byte-
          // exact, and the timestamp at the layout's ms precision
          // (the reference stores Date.now() epoch ms)
          val normJson = udf { (p: String) =>
            val m = new com.fasterxml.jackson.databind.ObjectMapper()
            m.writeValueAsString(m.readTree(p))
          }
          val src = slice.select($"event_id",
            unix_millis($"ts").as("src_ms"), normJson($"props").as("sent"))
          graft.sources.FileStoreImporter.read(s, store).toDF()
            .select($"id".cast("long").as("event_id"), $"topic",
              unix_millis($"timestamp").as("imp_ms"), $"payload")
            .join(src, Seq("event_id"))
            .groupBy($"topic")
            .agg(count(lit(1)).as("n_imported"),
              sum($"event_id").as("sum_ids"),
              sum(when($"payload" === $"sent" && $"imp_ms" === $"src_ms", 1L)
                .otherwise(0L)).as("n_roundtrip"))
            .withColumn("n_files",
              when($"topic" === "fs-a", lex("fs-a")._1).otherwise(lex("fs-b")._1))
            .withColumn("ord_checksum",
              when($"topic" === "fs-a", lex("fs-a")._2).otherwise(lex("fs-b")._2))
            .select($"topic", $"n_files", $"ord_checksum", $"n_imported",
              $"sum_ids", $"n_roundtrip")
            .orderBy($"topic")
            .as[(String, Long, Long, Long, Long, Long)].collect().toSeq
            .toDF("topic", "n_files", "ord_checksum", "n_imported",
              "sum_ids", "n_roundtrip")
            .orderBy($"topic")
        }
      }),

    // ARTIFACT-STORE LIFECYCLE GATE — the stored-hub tier itself driven
    // through the q170 pattern and hash-checked by the driver (it was
    // spec-only before r11): a slice of the events table is staged as a
    // PARTITIONED parquet layout (part=p0/p1 — the engine's own
    // partitionBy log shape, exactly the layout the r10 one-level
    // fingerprint could not see), an aggregate artifact is built through
    // ArtifactStore.table against a scratch store root, and the ledger
    // records each lifecycle step: build (one publish), warm hit (zero
    // publishes, identical checksum), rewrite of ONE partition directory
    // (the recursive fingerprint must invalidate — a one-level listing
    // serves the stale checksum here and breaks the hash), and vacuum
    // (an abandoned mid-write `.tmp-*` dir plus an orphaned artifact
    // whose staged input was deleted are swept; the live artifact
    // survives and still serves warm). Checksums are sums over the
    // artifact's rows, so the oracle recomputes every expected value
    // from the events table in SQL; the step counters are the protocol's
    // own law. Procedural by design (store side effects on scratch);
    // memoized once per (session, dir).
    "q253_artifact_lifecycle_gate" -> ((s, dir) =>
      ResultMemo.getOrCompute(s, "artgate", dir) {
        import s.implicits._
        import graft.operators.ArtifactStore
        withGateScratch("graft-q253", s) { base =>
          val in = s"$base/in"
          val store = s"$base/store"
          val slice = Tables.events(s, dir).where($"event_id" % 41 === 0)
            .select($"event_id", $"event_type")
          slice.withColumn("part",
              when($"event_id" % 2 === 1, "p1").otherwise("p0"))
            .write.partitionBy("part").mode("overwrite").parquet(in)
          // artifact names unique to this run (its scratch dir's name):
          // build counts are per name across the JVM
          val run = new java.io.File(base).getName.replaceAll("\\W", "_")
          val name = s"lifecycle_agg_$run"
          def art(): DataFrame = ArtifactStore.table(s, name, Seq(in), "bv1") {
            s.read.parquet(in).groupBy($"event_type")
              .agg(count(lit(1)).as("n"), sum($"event_id").as("sum_ids"))
          }
          def snapshot(): (Long, Long) = {
            val r = art().agg(count(lit(1)), coalesce(sum($"sum_ids"), lit(0L)))
              .collect()(0)
            (r.getLong(0), r.getLong(1))
          }
          withConf(s, ArtifactStore.ConfKey -> store) {
            def delta[T](f: => T): (Long, T) = {
              val b0 = ArtifactStore.buildCount(name)
              val out = f
              (ArtifactStore.buildCount(name) - b0, out)
            }
            val (b1, (r1, c1)) = delta(snapshot())
            val (b2, (r2, c2)) = delta(snapshot())
            // rewrite ONE partition directory under the same root: odd
            // event_ids shifted by 1e9 — (mtime, len) identity of files
            // one level DOWN changes, nothing at the top level does
            slice.where($"event_id" % 2 === 1)
              .select(($"event_id" + 1000000000L).as("event_id"), $"event_type")
              .write.mode("overwrite").parquet(s"$in/part=p1")
            val (b3, (r3, c3)) = delta(snapshot())
            // mid-write crash debris: a .tmp- dir with a part file and no
            // sidecar, planted inside the live artifact's group
            val grp = new java.io.File(store).listFiles()
              .filter(_.isDirectory).head
            val tmpDir = new java.io.File(grp, s"$name.tmp-999-crash")
            tmpDir.mkdirs()
            java.nio.file.Files.writeString(
              tmpDir.toPath.resolve("part-00000.parquet"), "junk")
            // an orphaned artifact: built from a second staged input that
            // is then deleted out from under the store
            val in2 = s"$base/in2"
            slice.limit(5).write.mode("overwrite").parquet(in2)
            ArtifactStore.table(s, s"lifecycle_orphan_$run",
              Seq(in2), "bv1") { s.read.parquet(in2) }.count()
            org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(in2))
            val ledger = ArtifactStore.vacuum(s, store, maxAgeMs = 0L)
            val nSwept = ledger.count(_.action == "deleted").toLong
            val nLive = ledger.count(e => e.kind == "live" && e.action == "kept").toLong
            val (b4, (_, c4)) = delta(snapshot()) // post-vacuum warm hit
            Seq(
              (1, "build", b1, r1, c1, 0L),
              (2, "warm", b2, r2, c2, 0L),
              (3, "rewrite", b3, r3, c3, 0L),
              (4, "vacuum", b4, nLive, c4, nSwept))
              .toDF("step", "label", "n_builds", "n_rows", "checksum", "n_swept")
              .orderBy($"step")
          }
        }
      }),

    // BROKER LIFECYCLE GATE — the last spec-only reference behaviors
    // under the driver's hash gate (they were ScalaTest-only through
    // r11): the retention TIMER (reference: src/topic.ts:40-42, 156-163
    // — driven here through RetentionScheduler's armed schedule, not a
    // direct sweep call), count-based retention (src/types.ts:93-95
    // declares maxEvents; the reference never enforces it — this is the
    // documented honest extension, EventLog.enforceMaxEvents), and the
    // LOSSY pause/resume window (src/subscription.ts:62-81: events
    // published while paused are DROPPED for that subscriber, not
    // queued), with receiver counts observed from the publish return
    // (src/types.ts:126-146). Protocol: a deterministic slice of the
    // events table (event_id % 97 = 0) is staged into a scratch broker
    // log; topic lg-keep gets the even-id half at ORIGINAL (2024-era)
    // timestamps and the odd-id half shifted +200 years, so a 1-hour
    // retention policy deletes exactly the even half whatever the wall
    // clock reads; topic lg-cap keeps original timestamps and is capped
    // to its newest 10 by the pinned (timestamp, id) order; the pause
    // window splits the same slice into three publish phases by
    // event_id % 3 (phase 1 lands while the paused subscriber is dark).
    // Every ledger cell is a count or an exact id-sum the oracle
    // recomputes from the events table in SQL — a sweep that deletes the
    // wrong half, a cap that keeps the wrong ten, a paused subscriber
    // that queues instead of drops, or a receiver count that sees the
    // type filter wrong all break the hash. Procedural by design
    // (scratch log + two partition rewrites); memoized per (session, dir).
    "q254_broker_lifecycle_gate" -> ((s, dir) =>
      ResultMemo.getOrCompute(s, "brokergate", dir) {
        import s.implicits._
        import graft.broker.{EventBroker, RetentionScheduler, SubscriptionOptions, TopicOptions}
        import graft.model.EventRow
        withGateScratch("graft-q254", s) { base =>
          val slice = Tables.events(s, dir).where($"event_id" % 97 === 0)
            .select($"event_id", $"event_type", $"ts", $"props")
            .orderBy($"event_id")
            .as[(Long, String, java.sql.Timestamp, String)].collect().toSeq
          def row(topic: String, eid: Long, tpe: String,
              ts: java.sql.Timestamp, payload: String): EventRow =
            EventRow(f"$eid%012d", tpe, topic, ts, "1.0", payload, Map.empty)
          val broker = new EventBroker(s, s"$base/log")
          // -- T8: retention timer. Old half at original timestamps,
          // future half +200 years. The Timestamp(ms) constructor derives
          // nanos from the millisecond remainder only, so the original
          // sub-ms fraction is restored explicitly via setNanos (the
          // shift is a whole multiple of 1000 ms — seconds move exactly,
          // the fraction is the original's).
          val shift = 6311520000000L
          val keep = broker.createTopic("lg-keep",
            TopicOptions(retentionPeriodMillis = 3600000L))
          keep.publishBatch(slice.map { case (eid, tpe, ts, p) =>
            val t = if (eid % 2 == 0) ts else {
              val shifted = new java.sql.Timestamp(ts.getTime + shift)
              shifted.setNanos(ts.getNanos)
              shifted
            }
            row("lg-keep", eid, tpe, t, p)
          })
          // -- T9 staging: same slice, original timestamps.
          val cap = broker.createTopic("lg-cap", TopicOptions())
          cap.publishBatch(slice.map { case (eid, tpe, ts, p) =>
            row("lg-cap", eid, tpe, ts, p) })
          // -- T10 + A3: non-persistent topic, two unfiltered callback
          // subscribers; delivery counts/sums are MEASURED in the
          // handlers (the q201 discipline — a silent drop or double
          // delivery breaks the hash even without a dead-letter).
          val pauseT = broker.createTopic("lg-pause",
            TopicOptions(persistent = false))
          val nA = new java.util.concurrent.atomic.AtomicLong
          val sumA = new java.util.concurrent.atomic.AtomicLong
          val nB = new java.util.concurrent.atomic.AtomicLong
          val sumB = new java.util.concurrent.atomic.AtomicLong
          val subA = pauseT.subscribe(e => { nA.incrementAndGet(); sumA.addAndGet(e.id.toLong); () },
            SubscriptionOptions(name = Some("q254-a")))
          pauseT.subscribe(e => { nB.incrementAndGet(); sumB.addAndGet(e.id.toLong); () },
            SubscriptionOptions(name = Some("q254-b")))
          def phase(k: Int): Seq[EventRow] = slice.collect {
            case (eid, tpe, ts, p) if eid % 3 == k => row("lg-pause", eid, tpe, ts, p) }
          var receiverSum = 0L
          receiverSum += pauseT.publishBatch(phase(0))
          subA.pause()
          receiverSum += pauseT.publishBatch(phase(1)) // dropped for A, not queued
          subA.resume()
          receiverSum += pauseT.publishBatch(phase(2))
          // -- T8 run: arm the timer (50 ms period) and wait for the
          // SCHEDULE to fire at least one full catalog sweep — the
          // reference's setInterval path, not a direct sweepOnce call.
          // lg-cap (retention 0) and lg-pause (non-persistent) must
          // no-op; a second tick before close() re-sweeps and finds
          // nothing old, so totalDeleted is schedule-race-free.
          val sched = new RetentionScheduler(broker, periodMillis = 50L)
          val swept = try {
            sched.start()
            val deadline = System.nanoTime() + 60000000000L
            while (sched.totalSweeps < 1 && System.nanoTime() < deadline)
              Thread.sleep(10)
            sched.totalDeleted
          } finally sched.close()
          // -- T9 run: cap to the newest 10 by the pinned (ts, id) order.
          val capDeleted = broker.log.enforceMaxEvents("lg-cap", 10)
          def logState(topic: String): (Long, Long) = {
            val r = broker.log.getEventsTyped(topic, graft.sources.ScanOptions())
              .toDF().agg(count(lit(1)),
                coalesce(sum($"id".cast("long")), lit(0L))).collect()(0)
            (r.getLong(0), r.getLong(1))
          }
          val (keepN, keepSum) = logState("lg-keep")
          val (capN, capSum) = logState("lg-cap")
          val n = slice.size.toLong
          Seq(
            (1, "retention_sweep", n, swept, keepN, keepSum),
            (2, "max_events", n, capDeleted, capN, capSum),
            (3, "paused_sub", n, n - nA.get, nA.get, sumA.get),
            (4, "active_sub", n, 0L, nB.get, sumB.get),
            (5, "receivers", n, 0L, 3L, receiverSum))
            .toDF("step", "label", "n_staged", "n_dropped", "n_out", "checksum")
            .orderBy($"step")
        }
      }),

    // BROKER SURFACE GATE — the last five spec-only §2 rows under the
    // driver's hash gate (they were ScalaTest-only through r12; r12
    // verdict ask #4): F5 topic auto-create on both publish AND subscribe
    // (reference: src/broker.ts:76-98 — a missing topic is created with
    // default options, never an error), T2 store-then-forward (src/topic
    // .ts:112-115 — the event is IN the persistent log before any
    // subscriber sees it; measured by a handler that counts the topic's
    // log rows at its FIRST delivery, after a whole-batch append),
    // X1 generateId format/chronology (src/utils.ts:13-40 — the
    // reference's per-call closure pins its counter at 000001, ours is
    // genuinely monotonic, the documented fix; the gate pins the
    // <ts base36 9>-<counter 6>-<rand 8 hex> shape, same-process
    // lexicographic chronology and distinctness over 1000 draws),
    // V4 getSchemas (src/schema.ts:69-78 — re-registration REPLACES, the
    // dump returns exactly the registered (schema, version) pairs), and
    // the §2.11 registration surface (all six graft_* functions resolve
    // through the session catalog and evaluate to pinned values; the
    // typed UDAF leg folds latest-payload over a 3-row group). Cells are
    // counts/id-sums the oracle recomputes from the events table, or
    // protocol constants (incl. the getSchemas dump md5) it respells in
    // SQL. Procedural by design (scratch broker log + per-event appends);
    // memoized per (session, dir).
    "q255_broker_surface_gate" -> ((s, dir) =>
      ResultMemo.getOrCompute(s, "brokersurf", dir) {
        import s.implicits._
        import graft.broker.{EventBroker, SubscriptionOptions}
        import graft.model.EventRow
        withGateScratch("graft-q255", s) { base =>
          val slice = Tables.events(s, dir).where($"event_id" % 89 === 0)
            .select($"event_id", $"event_type", $"ts", $"props")
            .orderBy($"event_id")
            .as[(Long, String, java.sql.Timestamp, String)].collect().toSeq
          val n = slice.size.toLong
          def rows(topic: String): Seq[EventRow] = slice.map {
            case (eid, tpe, ts, p) =>
              EventRow(f"$eid%012d", tpe, topic, ts, "1.0", p, Map.empty)
          }
          val broker = new EventBroker(s, s"$base/log")
          def logCount(topic: String): Long =
            broker.log.getEventsTyped(topic, graft.sources.ScanOptions())
              .toDF().count()
          // -- F5, publish side: one publish to a topic nobody created.
          val before = broker.topicNames.size.toLong
          val pr = broker.publish("auto-pub", "probe", """{"probe":1}""")
          val pubOk = before == 0 && pr.success &&
            broker.getTopic("auto-pub").isDefined
          // -- F5, subscribe side: subscribing a missing topic creates it
          // with default options; the batch then routes to the handler.
          val nH = new java.util.concurrent.atomic.AtomicLong
          val sumH = new java.util.concurrent.atomic.AtomicLong
          broker.subscribe("auto-sub",
            e => { nH.incrementAndGet(); sumH.addAndGet(e.id.toLong); () },
            SubscriptionOptions(name = Some("q255-sub")))
          val subOk = broker.getTopic("auto-sub").isDefined
          broker.getTopic("auto-sub").get.publishBatch(rows("auto-sub"))
          // -- T2: at the FIRST delivery the whole batch is already in
          // the log (append happens before fan-out); an n == 0 slice has
          // no delivery to observe and passes vacuously.
          val stf = broker.createTopic("stf")
          @volatile var firstSeen = -1L
          val nS = new java.util.concurrent.atomic.AtomicLong
          val sumS = new java.util.concurrent.atomic.AtomicLong
          stf.subscribe(e => {
            if (firstSeen < 0) firstSeen = logCount("stf")
            nS.incrementAndGet(); sumS.addAndGet(e.id.toLong); ()
          }, SubscriptionOptions(name = Some("q255-stf")))
          stf.publishBatch(rows("stf"))
          val stfOk = n == 0 || firstSeen == n
          // -- X1: 1000 ids from one thread. The chronology law pins what
          // the scheme guarantees — lexicographic order whenever the wall
          // clock did not step BACKWARDS between draws (wall-clock ids
          // cannot order across an NTP step back; a pair whose 9-char
          // time prefix decreased is the clock's fault, not the
          // scheme's, and is excused so a driver-run NTP slew cannot
          // spuriously fail the hash gate).
          val ids = Vector.fill(1000)(graft.model.Event.generateId())
          val nFmt = ids.count(_.matches("[0-9a-z]{9}-[0-9]{6}-[0-9a-f]{8}")).toLong
          val nMono = ids.sliding(2)
            .count(p => p(1) > p(0) || p(1).take(9) < p(0).take(9)).toLong
          val nDistinct = ids.distinct.size.toLong
          // -- V4: re-registration replaces; the dump round-trips exactly.
          val reg = new graft.schema.SchemaRegistry()
          val orderSchema = """{"type":"object","required":["amount"]}"""
          val clickSchema = """{"type":"object","required":["target"]}"""
          reg.registerSchema("order", orderSchema, "0.9")
          reg.registerSchema("order", orderSchema, "1.0") // replaces 0.9
          reg.registerSchema("click", clickSchema, "2.0")
          val dump = reg.getSchemas
          val nRoundtrip = Seq(
            "order" -> ((orderSchema, "1.0")),
            "click" -> ((clickSchema, "2.0")))
            .count { case (t, v) => dump.get(t).contains(v) }.toLong
          val dumpStr = dump.toSeq.sortBy(_._1)
            .map { case (t, (_, v)) => s"$t:$v" }.mkString("|")
          val md = java.security.MessageDigest.getInstance("MD5")
            .digest(dumpStr.getBytes("UTF-8")).map("%02x".format(_)).mkString
          val dumpCk = java.lang.Long.parseLong(md.take(7), 16)
          // -- §2.11: the registered expression surface evaluates to
          // pinned values; the typed UDAF folds latest-by-(ts, id).
          val fnNames = Seq("graft_dot", "graft_bloom_agg",
            "graft_bloom_contains", "graft_token_entropy",
            "graft_top_token_share", "graft_shingles")
          val nExist = fnNames.count(s.catalog.functionExists).toLong
          val r = s.sql(
            """SELECT graft_dot(array(1.0D,2.0D,3.0D), array(4.0D,5.0D,6.0D)) AS dot,
              |  size(graft_shingles(array('a','b','c','d'), 2)) AS nsh,
              |  graft_top_token_share(array('a','b','a','b')) AS share,
              |  graft_token_entropy(array('a','a','a','a')) AS ent""".stripMargin)
            .collect()(0)
          // the probed value is a column, not a literal: a folded
          // xxhash64(42L) is a negative long literal, which the bloom
          // probe's generated code spells `(Long)-…L` and Janino rejects
          val bloomOk = s.sql(
            """SELECT graft_bloom_contains(
              |  (SELECT graft_bloom_agg(xxhash64(id)) FROM range(100)),
              |  xxhash64(id)) AS ok FROM range(42, 43)""".stripMargin)
            .collect()(0).getBoolean(0)
          def ts(ms: Long) = new java.sql.Timestamp(ms)
          val latest = Seq(
            EventRow("a", "t", "x", ts(1000L), "1.0", "p1", Map.empty),
            EventRow("b", "t", "x", ts(3000L), "1.0", "p3", Map.empty),
            EventRow("c", "t", "x", ts(2000L), "1.0", "p2", Map.empty)).toDS()
            .groupByKey(_.topic)
            .agg(graft.functions.LatestPayloadAggregator.toColumn.name("latest"))
            .collect()(0)._2
          val nChecks = Seq(r.getDouble(0) == 32.0, r.getInt(1) == 3,
            r.getDouble(2) == 0.5, r.getDouble(3) == 0.0, bloomOk,
            latest == "p3").count(identity).toLong
          Seq(
            (1, "auto_create_publish", 1L, if (pubOk) 1L else 0L,
              logCount("auto-pub"), pr.receiverCount.toLong),
            (2, "auto_create_subscribe", n, if (subOk) 1L else 0L,
              nH.get, sumH.get),
            (3, "store_then_forward", n, if (stfOk) 1L else 0L,
              nS.get, sumS.get),
            (4, "generate_id", 1000L, nFmt, nMono, nDistinct),
            (5, "get_schemas", 3L, dump.size.toLong, nRoundtrip, dumpCk),
            (6, "udf_registration", fnNames.size.toLong, nExist, nChecks, 32L))
            .toDF("step", "label", "n_in", "n_ok", "n_out", "checksum")
            .orderBy($"step")
        }
      }),

    // STREAM-STATIC ENRICH GATE — the broadcast dimension join run as a
    // live streaming query: the event log streams through
    // StreamCorrelator.enrich against the customer dimension (static
    // side re-read and BROADCAST per micro-batch — no state, no
    // shuffle of the stream). Two micro-batches (maxFilesPerTrigger=1)
    // force the static side to serve repeated batches; per-batch
    // rollups fold driver-side into exact totals, which is lawful
    // because the enrich is stateless — count and DECIMAL sum
    // distribute over any batching. Oracle = the plain batch join law;
    // a dropped batch, a double-served dimension row, or a stale
    // static read all move the counts/sums. At 100 TB the static side
    // stays dimension-sized (broadcast) while the stream never
    // repartitions.
    "q211_stream_enrich_gate" -> ((s, dir) =>
      ResultMemo.getOrCompute(s, "senrich", dir) {
        import s.implicits._
        withGateScratch("graft-q211", s) { base =>
          val src = GateFixtures.parquet(dir, "q211", partitions = 2) {
            Tables.events(s, dir)
              .select($"user_id", $"event_type", $"value")
          }
          val dim = Tables.customer(s, dir)
            .select($"c_custkey", $"c_mktsegment")
          val agg = scala.collection.mutable.Map
            .empty[(String, String), (Long, BigDecimal)]
          val stream = s.readStream.schema(s.read.parquet(src).schema)
            .option("maxFilesPerTrigger", 1).parquet(src)
          drain(graft.streaming.StreamCorrelator.enrich(
              stream, dim, "user_id", "c_custkey"),
            s"$base/ckpt", "append") { (b, _) =>
            val rows = b.groupBy($"c_mktsegment", $"event_type")
              .agg(count(lit(1)).as("n"),
                sum($"value".cast("decimal(18,2)")).as("t"))
              .as[(String, String, Long, BigDecimal)].collect()
            agg.synchronized {
              rows.foreach { case (seg, et, n, t) =>
                val (pn, pt) = agg.getOrElse((seg, et), (0L, BigDecimal(0)))
                agg((seg, et)) = (pn + n, pt + t)
              }
            }
          }
          agg.toSeq.sortBy(_._1)
            .map { case ((seg, et), (n, t)) => (seg, et, n, t) }
            .toDF("segment", "event_type", "n_events", "t")
            .select($"segment", $"event_type", $"n_events",
              round($"t".cast("double"), 2).as("total_value"))
            .orderBy($"segment", $"event_type")
        }
      }))

  def oracles: Map[String, String] = Map(
    // The batch bucket law (StreamingNearDupSpec.batchLaw): q31's
    // signature spelling over the planted fixture, rank 2..cap+1 within
    // each (band, minhash) bucket emits against the bucket min.
    "q178_streaming_neardup_gate" ->
      s"""WITH src AS (
         |  SELECT doc_id, text FROM documents WHERE doc_id < 60
         |  UNION ALL
         |  SELECT doc_id + 100000, text || ' appended' FROM documents WHERE doc_id < 20),
         |t AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') toks FROM src),
         |sh AS (SELECT doc_id, toks[j+1] || ' ' || toks[j+2] || ' ' || toks[j+3] AS shingle
         |       FROM t, unnest(range(greatest(len(toks)-2, 0))) AS u(j)),
         |sig AS (SELECT doc_id, i, min(md5(i::VARCHAR || ':' || shingle)) mh
         |        FROM sh, unnest(range(8)) AS h(i) GROUP BY doc_id, i),
         |r AS (SELECT doc_id, i, mh,
         |        row_number() OVER (PARTITION BY i, mh ORDER BY doc_id) rn,
         |        min(doc_id) OVER (PARTITION BY i, mh) first_doc
         |      FROM sig)
         |SELECT doc_id, CAST(i AS INT) AS band, first_doc
         |FROM r WHERE rn >= 2 AND rn <= 101
         |ORDER BY doc_id, band""".stripMargin,

    // The one-shot decontamination law (q71's gram spelling): arrivals =
    // train split + 5 planted test-doc copies; kept = arrivals sharing no
    // word-5-gram with the test split's distinct gram set.
    "q179_streaming_decontamination_gate" ->
      s"""WITH sp AS (SELECT doc_id, text, $pctSql AS pct FROM documents),
         |arr AS (
         |  SELECT doc_id, text FROM sp WHERE pct < 0.8
         |  UNION ALL
         |  SELECT doc_id + 100000 AS doc_id, text FROM (
         |    SELECT doc_id, text FROM sp WHERE pct >= 0.9 ORDER BY doc_id LIMIT 5)),
         |at AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') toks FROM arr),
         |ag AS (SELECT doc_id,
         |    md5(toks[j+1] || ' ' || toks[j+2] || ' ' || toks[j+3] || ' ' || toks[j+4] || ' ' || toks[j+5]) gh
         |  FROM at, unnest(range(greatest(len(toks)-4, 0))) AS u(j)),
         |tt AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') toks FROM sp WHERE pct >= 0.9),
         |tg AS (SELECT DISTINCT
         |    md5(toks[j+1] || ' ' || toks[j+2] || ' ' || toks[j+3] || ' ' || toks[j+4] || ' ' || toks[j+5]) gh
         |  FROM tt, unnest(range(greatest(len(toks)-4, 0))) AS u(j)),
         |bad AS (SELECT DISTINCT ag.doc_id FROM ag JOIN tg USING (gh))
         |SELECT a.doc_id FROM arr a LEFT JOIN bad b ON a.doc_id = b.doc_id
         |WHERE b.doc_id IS NULL ORDER BY a.doc_id""".stripMargin,

    // q119's portable sketch law per return flag — identical integer
    // arithmetic to the streaming fold, so the estimates hash-match.
    "q180_streaming_quantile_gate" ->
      """WITH cents AS (
        |  SELECT l_returnflag AS grp, CAST(round(l_extendedprice * 100) AS BIGINT) AS c
        |  FROM lineitem),
        |binned AS (
        |  SELECT grp, c, length(bin(c)) AS b,
        |    CASE WHEN length(bin(c)) > 6 THEN length(bin(c)) - 6 ELSE 0 END AS s
        |  FROM cents),
        |buckets AS (
        |  SELECT grp, b, s, c >> s AS h, count(*) AS n FROM binned GROUP BY 1, 2, 3, 4),
        |cum AS (
        |  SELECT grp, b, h, s, n,
        |    sum(n) OVER (PARTITION BY grp ORDER BY b, h) AS cn,
        |    sum(n) OVER (PARTITION BY grp) AS total
        |  FROM buckets),
        |qs(q, qv) AS (VALUES ('p50', 0.5), ('p95', 0.95), ('p99', 0.99)),
        |est AS (
        |  SELECT grp, q,
        |    min(CASE WHEN s > 0 THEN (h << s) + (1 << (s - 1)) ELSE h END) AS mid,
        |    max(total) AS n
        |  FROM cum JOIN qs ON cn >= ceil(qv * total) GROUP BY grp, q)
        |SELECT grp, q, round(mid / 100.0, 2) AS est_price, CAST(n AS BIGINT) AS n
        |FROM est ORDER BY grp, q""".stripMargin,

    // The exactly-once law over the doubled fixture: distinct event ids
    // per type (event ids are globally unique, so the duplicates planted
    // by the gate collapse back to the original counts).
    "q182_streaming_dedup_gate" ->
      """WITH src AS (
        |  SELECT event_id, event_type FROM events
        |  UNION ALL
        |  SELECT event_id, event_type FROM events WHERE event_id % 7 = 0)
        |SELECT event_type, CAST(count(DISTINCT event_id) AS BIGINT) AS n_events
        |FROM src GROUP BY 1 ORDER BY 1""".stripMargin,

    // The curation law: q55's quality spelling over the arrivals
    // (corpus + planted re-publications), kept = distinct content hash
    // among quality-passing docs, with each hash's candidate count.
    "q183_streaming_curation_gate" ->
      """WITH fx AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 100000, text FROM documents WHERE doc_id < 30),
        |t AS (SELECT doc_id, text, string_split_regex(trim(text), '\s+') toks FROM fx),
        |b AS (SELECT doc_id, text,
        |    len(toks) n_tok,
        |    list_sum(list_transform(toks, x -> len(x))) sum_len,
        |    len(list_filter(toks, x -> x IN ('the', 'a', 'of', 'and', 'to', 'is'))) n_stop
        |  FROM t),
        |q AS (SELECT doc_id, text,
        |    0.5 * least(n_tok * 1.0 / 100.0, 1.0)
        |      + 0.3 * (n_stop * 1.0 / n_tok)
        |      + 0.2 * least((sum_len * 1.0 / n_tok) / 6.0, 1.0) AS quality
        |  FROM b)
        |SELECT md5(text) AS ch, CAST(count(*) AS BIGINT) AS n_candidates
        |FROM q WHERE quality >= 0.5
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // The drift monitor respelled: per type, value-rank <= 100 freezes
    // the reference, the remainder is the observation window; histograms
    // on trunc(value/25) clamped to [0,15]; tvd = exact integer numerator
    // over the bucket grid, one division. Rank ties across the boundary
    // share a bucket, so the histograms are order-invariant.
    "q184_streaming_drift_gate" ->
      """WITH v AS (SELECT event_type AS key, value FROM events),
        |c AS (SELECT key, count(*) cnt FROM v GROUP BY 1),
        |r AS (SELECT key, value, row_number() OVER (PARTITION BY key ORDER BY value) rk FROM v),
        |b AS (SELECT r.key,
        |    CASE WHEN r.rk <= 100 THEN 0 ELSE 1 END part,
        |    least(15, greatest(0, CAST(trunc(r.value / 25.0) AS INT))) bkt
        |  FROM r JOIN c USING (key) WHERE c.cnt > 100),
        |h AS (SELECT key, bkt,
        |    CAST(sum(CASE WHEN part = 0 THEN 1 ELSE 0 END) AS BIGINT) a,
        |    CAST(sum(CASE WHEN part = 1 THEN 1 ELSE 0 END) AS BIGINT) bb
        |  FROM b GROUP BY 1, 2),
        |t AS (SELECT key, CAST(sum(a) AS BIGINT) ta, CAST(sum(bb) AS BIGINT) tb
        |      FROM h GROUP BY 1),
        |s AS (SELECT h.key, CAST(sum(abs(h.a * t.tb - h.bb * t.ta)) AS BIGINT) num
        |      FROM h JOIN t USING (key) GROUP BY 1)
        |SELECT s.key, CAST(0 AS BIGINT) AS batch, t.tb AS n,
        |  round(CAST(s.num AS DOUBLE) / (2.0 * t.ta * t.tb), 6) AS tvd,
        |  (CAST(s.num AS DOUBLE) / (2.0 * t.ta * t.tb)) > 0.2 AS alert
        |FROM s JOIN t USING (key) ORDER BY s.key""".stripMargin,

    // The exact-when-possible Space-Saving law: a 200-item domain under
    // capacity 256 never evicts, so the sketch reports exact counts with
    // err = 0 and the top-10 ranks by (count desc, item asc).
    "q185_streaming_topk_gate" ->
      """WITH i AS (SELECT event_type AS grp, CAST(user_id % 200 AS VARCHAR) AS item
        |           FROM events),
        |c AS (SELECT grp, item, CAST(count(*) AS BIGINT) cnt FROM i GROUP BY 1, 2),
        |r AS (SELECT grp, item, cnt,
        |    CAST(row_number() OVER (PARTITION BY grp ORDER BY cnt DESC, item ASC) AS INT) rank
        |  FROM c)
        |SELECT grp, item, cnt AS count, CAST(0 AS BIGINT) AS err, rank
        |FROM r WHERE rank <= 10 ORDER BY grp, rank""".stripMargin,

    // The prequential law: each row scored against the strictly-prior
    // prefix in (event-time ms, value) order — window aggregates over
    // ROWS UNBOUNDED PRECEDING .. 1 PRECEDING.
    "q186_streaming_anomaly_gate" ->
      """WITH v AS (
        |  SELECT event_type AS key, ts, value,
        |    epoch_us(ts) // 1000 AS tms
        |  FROM events),
        |w AS (
        |  SELECT key, ts, value,
        |    count(*) OVER pre AS n_seen,
        |    avg(value) OVER pre AS mu,
        |    stddev_samp(value) OVER pre AS sd
        |  FROM v
        |  WINDOW pre AS (PARTITION BY key ORDER BY tms, value
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
        |SELECT key, ts, value,
        |  round((value - mu) / sd, 6) AS z,
        |  CAST(n_seen AS BIGINT) AS n_seen
        |FROM w
        |WHERE n_seen >= 5 AND sd > 0 AND abs((value - mu) / sd) >= 3.0
        |ORDER BY key, ts, value""".stripMargin,

    // The interval-join law: views matched to the same cohort's
    // purchases with purchase time in [view time, view time + 1 day],
    // rolled up per cohort with the exact microsecond gap sum.
    "q187_stream_correlate_gate" ->
      """WITH l AS (SELECT user_id % 100 AS k, ts, event_id FROM events WHERE event_type = 'view'),
        |r AS (SELECT user_id % 100 AS k, ts FROM events WHERE event_type = 'purchase'),
        |p AS (SELECT l.k, epoch_us(r.ts) - epoch_us(l.ts) AS gap_us
        |      FROM l JOIN r ON l.k = r.k
        |        AND r.ts >= l.ts AND r.ts <= l.ts + INTERVAL 1 DAY)
        |SELECT k AS cohort, CAST(count(*) AS BIGINT) AS n_pairs,
        |  CAST(sum(gap_us) AS BIGINT) AS sum_gap_us
        |FROM p GROUP BY 1 ORDER BY 1""".stripMargin,

    // The timeout-detection law: views with no same-cohort purchase in
    // [ts, ts + 1 day]; the far-future sentinel makes every verdict
    // final, so no watermark arithmetic survives into the law.
    "q195_stream_unanswered_gate" ->
      """WITH l AS (SELECT user_id % 100 AS k, ts, event_id FROM events
        |           WHERE event_type = 'view'),
        |r AS (SELECT user_id % 100 AS k, ts FROM events WHERE event_type = 'purchase'),
        |m AS (SELECT DISTINCT l.event_id FROM l JOIN r ON l.k = r.k
        |      AND r.ts >= l.ts AND r.ts <= l.ts + INTERVAL 1 DAY)
        |SELECT l.k AS cohort, CAST(count(*) AS BIGINT) AS n_unanswered
        |FROM l LEFT JOIN m ON l.event_id = m.event_id
        |WHERE m.event_id IS NULL
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // The delivery law: filtered types only; an event dead-letters iff
    // its id ends "00" (event_id % 100 == 0), exactly once; everything
    // else delivers.
    "q201_delivery_gate" ->
      """SELECT event_type,
        |  CAST(sum(CASE WHEN event_id % 100 = 0 THEN 0 ELSE 1 END) AS BIGINT) AS n_delivered,
        |  CAST(sum(CASE WHEN event_id % 100 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_dead_lettered
        |FROM events WHERE event_type IN ('error', 'purchase', 'view')
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // The retry-bookkeeping law (deadletter.ts:78-103): dead = %100 events,
    // retry succeeds for the healed half (%100 but not %200) and removes
    // the entry; the %200 half stays dead with attempts bumped to exactly
    // 2 (1 first failure + 1 failed retry).
    "q202_dlq_retry_gate" ->
      """WITH t(event_type) AS (VALUES ('error'), ('purchase'), ('view')),
        |f AS (SELECT event_type, event_id FROM events
        |      WHERE event_type IN ('error', 'purchase', 'view')
        |        AND event_id % 100 = 0)
        |SELECT t.event_type,
        |  CAST(count(f.event_id) AS BIGINT) AS n_dead,
        |  CAST(coalesce(sum(CASE WHEN f.event_id % 200 <> 0 THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_retry_ok,
        |  CAST(coalesce(sum(CASE WHEN f.event_id % 200 = 0 THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_still_dead,
        |  CAST(CASE WHEN count(CASE WHEN f.event_id % 200 = 0 THEN 1 END) > 0
        |       THEN 2 ELSE 0 END AS BIGINT) AS max_attempts
        |FROM t LEFT JOIN f USING (event_type)
        |GROUP BY t.event_type
        |ORDER BY t.event_type""".stripMargin,

    // The exactly-once law: the committed table must equal the source
    // slice aggregated directly — at-least-once duplication separates
    // n_events from n_distinct, a dropped batch shrinks both and the sum.
    "q206_idempotent_sink_gate" ->
      """SELECT event_type,
        |  count(*) AS n_events,
        |  count(DISTINCT event_id) AS n_distinct,
        |  CAST(sum(event_id) AS BIGINT) AS sum_ids
        |FROM events WHERE event_id % 23 = 0
        |GROUP BY event_type ORDER BY event_type""".stripMargin,

    // The exactly-once law at BOTH grains: per-type counts/distincts/id
    // sums from the source slice, and the ledger's committed row mass ==
    // the slice count. Any double-insert (replayed batch, re-staged
    // crash window, task-retry duplicate) moves n_events and sum_ids off
    // the slice; a half-commit moves ledger_rows.
    "q249_jdbc_exactly_once_gate" ->
      """WITH sl AS (SELECT event_id, event_type FROM events
        |            WHERE event_id % 97 = 0)
        |SELECT event_type,
        |  count(*) AS n_events,
        |  count(DISTINCT event_id) AS n_distinct,
        |  CAST(sum(event_id) AS BIGINT) AS sum_ids,
        |  (SELECT CAST(count(*) AS BIGINT) FROM sl) AS ledger_rows
        |FROM sl
        |GROUP BY event_type ORDER BY event_type""".stripMargin,

    // The schema.ts:47-139 acceptance law respelled per staged class:
    // 0 conformant → accept; 1 missing required → reject; 2 wrong type →
    // reject; 3 EXTRA props → accept (schema.ts:91-127 checks declared
    // props only); 4 unregistered type → accept (schema.ts:50-53);
    // 5 version mismatch + valid payload (count 3.0 IS an integer,
    // schema.ts:150-151) → warn but ACCEPT; 6 version mismatch + invalid
    // payload → the mismatch still validates, so REJECT; 7 array item of
    // wrong type → reject (schema.ts:130-136).
    "q250_schema_validation_gate" ->
      """WITH e AS (SELECT CAST(event_id % 8 AS INT) AS cls FROM events
        |           WHERE event_id < 4000)
        |SELECT cls,
        |  CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(CASE WHEN cls IN (0, 3, 4, 5)
        |       THEN count(*) ELSE 0 END AS BIGINT) AS n_accepted
        |FROM e GROUP BY cls ORDER BY cls""".stripMargin,

    // The file-store round-trip law: every slice row lands as exactly one
    // file, imports back with payload and ms-grain timestamp intact, and
    // the store's lexicographic filename order IS (epoch-ms, id) replay
    // order (SURVEY §2.3 O1 parity) — pinned by the positional checksum.
    "q251_filestore_import_gate" ->
      """WITH sl AS (SELECT event_id, ts, props,
        |    CASE WHEN user_id % 2 = 0 THEN 'fs-a' ELSE 'fs-b' END AS topic
        |  FROM events WHERE event_id % 211 = 0),
        |r AS (SELECT topic, event_id,
        |        row_number() OVER (PARTITION BY topic
        |          ORDER BY epoch_ms(ts), event_id) AS rn
        |      FROM sl)
        |SELECT topic,
        |  CAST(count(*) AS BIGINT) AS n_files,
        |  CAST(sum(rn * event_id) AS BIGINT) AS ord_checksum,
        |  CAST(count(*) AS BIGINT) AS n_imported,
        |  CAST(sum(event_id) AS BIGINT) AS sum_ids,
        |  CAST(count(*) AS BIGINT) AS n_roundtrip
        |FROM r GROUP BY topic ORDER BY topic""".stripMargin,

    // The artifact-lifecycle law: checksums are the slice's id sums
    // before and after the partition rewrite (+1e9 per odd id), row
    // counts are the slice's distinct event types; the step counters are
    // the store's contract — one publish on first build, zero on a warm
    // hit, exactly one on a one-partition rewrite (recursive fingerprint),
    // zero after vacuum with the live artifact kept and the two planted
    // orphans (tmp debris + deleted-input artifact) swept.
    "q253_artifact_lifecycle_gate" ->
      """WITH sl AS (SELECT event_id, event_type FROM events
        |            WHERE event_id % 41 = 0),
        |m AS (SELECT CAST(count(DISTINCT event_type) AS BIGINT) AS r,
        |             CAST(sum(event_id) AS BIGINT) AS c1,
        |             CAST(sum(event_id + CASE WHEN event_id % 2 = 1
        |               THEN 1000000000 ELSE 0 END) AS BIGINT) AS c2
        |      FROM sl)
        |SELECT * FROM (
        |  SELECT 1 AS step, 'build' AS label, CAST(1 AS BIGINT) AS n_builds,
        |         r AS n_rows, c1 AS checksum, CAST(0 AS BIGINT) AS n_swept FROM m
        |  UNION ALL SELECT 2, 'warm', 0, r, c1, 0 FROM m
        |  UNION ALL SELECT 3, 'rewrite', 1, r, c2, 0 FROM m
        |  UNION ALL SELECT 4, 'vacuum', 0, 1, c2, 2 FROM m
        |) ORDER BY step""".stripMargin,

    // Every ledger cell re-derived from the staged slice in SQL: the
    // retention law (even-id half is old → swept, odd half future →
    // kept), the maxEvents law (newest 10 by (ts, id) survive), the
    // lossy-pause law (phase-1 ids vanish from the paused subscriber and
    // nowhere else), and the publish receiver count (2 unfiltered subs
    // per non-empty phase).
    "q254_broker_lifecycle_gate" ->
      """WITH sl AS (SELECT event_id, ts FROM events WHERE event_id % 97 = 0),
        |a AS (SELECT
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(coalesce(sum(CASE WHEN event_id % 2 = 0 THEN 1 END), 0) AS BIGINT) AS n_even,
        |  CAST(coalesce(sum(CASE WHEN event_id % 2 = 1 THEN 1 END), 0) AS BIGINT) AS n_odd,
        |  CAST(coalesce(sum(CASE WHEN event_id % 2 = 1 THEN event_id END), 0) AS BIGINT) AS odd_sum,
        |  CAST(coalesce(sum(CASE WHEN event_id % 3 = 1 THEN 1 END), 0) AS BIGINT) AS n_p1,
        |  CAST(coalesce(sum(CASE WHEN event_id % 3 <> 1 THEN 1 END), 0) AS BIGINT) AS n_np1,
        |  CAST(coalesce(sum(CASE WHEN event_id % 3 <> 1 THEN event_id END), 0) AS BIGINT) AS np1_sum,
        |  CAST(coalesce(sum(event_id), 0) AS BIGINT) AS all_sum,
        |  CAST(CASE WHEN count(CASE WHEN event_id % 3 = 0 THEN 1 END) > 0 THEN 2 ELSE 0 END
        |     + CASE WHEN count(CASE WHEN event_id % 3 = 1 THEN 1 END) > 0 THEN 2 ELSE 0 END
        |     + CASE WHEN count(CASE WHEN event_id % 3 = 2 THEN 1 END) > 0 THEN 2 ELSE 0 END
        |     AS BIGINT) AS recv
        |  FROM sl),
        |cap AS (SELECT CAST(count(*) AS BIGINT) AS n_kept,
        |               CAST(coalesce(sum(event_id), 0) AS BIGINT) AS kept_sum
        |        FROM (SELECT event_id FROM sl ORDER BY ts DESC, event_id DESC LIMIT 10))
        |SELECT * FROM (
        |  SELECT 1 AS step, 'retention_sweep' AS label, a.n AS n_staged,
        |         a.n_even AS n_dropped, a.n_odd AS n_out, a.odd_sum AS checksum FROM a
        |  UNION ALL SELECT 2, 'max_events', a.n, a.n - cap.n_kept,
        |            cap.n_kept, cap.kept_sum FROM a, cap
        |  UNION ALL SELECT 3, 'paused_sub', a.n, a.n_p1, a.n_np1, a.np1_sum FROM a
        |  UNION ALL SELECT 4, 'active_sub', a.n, 0, a.n, a.all_sum FROM a
        |  UNION ALL SELECT 5, 'receivers', a.n, 0, 3, a.recv FROM a
        |) ORDER BY step""".stripMargin,

    // Every slice-derived cell (auto-created routing counts, the
    // store-then-forward delivery count and id sum) recomputed from the
    // events table; the protocol cells are the laws themselves — 1000
    // well-formed distinct chronological ids, a 2-entry schema dump whose
    // md5 the SQL respells, six resolvable functions with six pinned
    // evaluations (graft_dot([1,2,3],[4,5,6]) = 32 is the checksum).
    "q255_broker_surface_gate" ->
      """WITH sl AS (SELECT event_id FROM events WHERE event_id % 89 = 0),
        |a AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |             CAST(coalesce(sum(event_id), 0) AS BIGINT) AS s FROM sl)
        |SELECT * FROM (
        |  SELECT 1 AS step, 'auto_create_publish' AS label,
        |         CAST(1 AS BIGINT) AS n_in, CAST(1 AS BIGINT) AS n_ok,
        |         CAST(1 AS BIGINT) AS n_out, CAST(0 AS BIGINT) AS checksum
        |  UNION ALL SELECT 2, 'auto_create_subscribe', a.n, 1, a.n, a.s FROM a
        |  UNION ALL SELECT 3, 'store_then_forward', a.n, 1, a.n, a.s FROM a
        |  UNION ALL SELECT 4, 'generate_id', 1000, 1000, 999, 1000
        |  UNION ALL SELECT 5, 'get_schemas', 3, 2, 2,
        |    CAST(CAST(('0x' || substr(md5('click:2.0|order:1.0'), 1, 7)) AS INT) AS BIGINT)
        |  UNION ALL SELECT 6, 'udf_registration', 6, 6, 6, 32
        |) ORDER BY step""".stripMargin,

    // The straight rollup law — the healed table must be exactly what a
    // from-scratch recompute produces: doubled in-range days, clobbered
    // out-of-range days, and surviving phantom partitions all diverge.
    "q207_backfill_gate" ->
      """SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day, event_type,
        |  count(*) AS n,
        |  round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2) AS total_value
        |FROM events
        |GROUP BY 1, 2 ORDER BY day, event_type""".stripMargin,

    // The batch join law: stream-static enrich must equal the plain
    // equi-join aggregated directly.
    "q211_stream_enrich_gate" ->
      """SELECT c.c_mktsegment AS segment, e.event_type,
        |  count(*) AS n_events,
        |  round(CAST(sum(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE), 2) AS total_value
        |FROM events e JOIN customer c ON e.user_id = c.c_custkey
        |GROUP BY 1, 2 ORDER BY segment, event_type""".stripMargin,

    // q22's gaps-and-islands law VERBATIM: Spark's session ranges merge
    // when they touch (exact-gap pair = one session, pinned by
    // StreamingSessionizeSpec), so streaming and batch share the `>`
    // boundary.
    "q204_streaming_sessionize_gate" ->
      """WITH flagged AS (
        |  SELECT user_id, ts,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |         OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
        |         THEN 1 ELSE 0 END AS new_session
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC)
        |), sessions AS (
        |  SELECT user_id, ts,
        |    CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        |  FROM flagged)
        |SELECT user_id, session_id, count(*) AS n_events,
        |  min(ts) AS session_start, max(ts) AS session_end
        |FROM sessions GROUP BY user_id, session_id
        |ORDER BY user_id, session_id""".stripMargin,

    // The batch as-of law in SQL: per view, the purchase with the
    // greatest (ts, lpad-id) pair STRICTLY below the view's pair within
    // its cohort; per cohort the exact integer microsecond gap sum.
    "q203_streaming_asof_gate" ->
      """WITH v AS (SELECT user_id % 50 AS cohort, ts,
        |             lpad(CAST(event_id AS VARCHAR), 12, '0') AS p
        |           FROM events WHERE event_type = 'view'),
        |pr AS (SELECT user_id % 50 AS cohort, ts,
        |         lpad(CAST(event_id AS VARCHAR), 12, '0') AS p
        |       FROM events WHERE event_type = 'purchase'),
        |j AS (SELECT v.cohort, v.ts vts, v.p vp, pr.ts pts,
        |        row_number() OVER (PARTITION BY v.cohort, v.p
        |          ORDER BY pr.ts DESC NULLS LAST, pr.p DESC NULLS LAST) rn
        |      FROM v LEFT JOIN pr ON v.cohort = pr.cohort
        |        AND (pr.ts < v.ts OR (pr.ts = v.ts AND pr.p < v.p)))
        |SELECT cohort,
        |  CAST(count(*) AS BIGINT) AS n_views,
        |  CAST(count(pts) AS BIGINT) AS n_matched,
        |  CAST(coalesce(sum(epoch_us(vts) - epoch_us(pts)), 0) AS BIGINT) AS sum_gap_us
        |FROM j WHERE rn = 1
        |GROUP BY cohort ORDER BY cohort""".stripMargin,

    // The silence law in the operator's exact millisecond space: a
    // cohort fires iff lastSeen_ms + 6h is strictly below the final
    // watermark (sentinel at maxTs + 2h, minus the 10-minute delay).
    // The funnel's composed law: distinct content hashes of
    // quality-passing arrivals whose text shares no word-5-gram with
    // the test split (exact dedup is absorbed by DISTINCT; the planted
    // test-doc copies fall to the decontamination stage).
    "q193_streaming_ingest_funnel" ->
      """WITH sp AS (
        |  SELECT doc_id, text,
        |    CAST(('0x' || substr(md5('' || CAST(doc_id AS VARCHAR)), 1, 4)) AS INT) / 65536.0 AS pct
        |  FROM documents),
        |fx AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 100000, text FROM documents WHERE doc_id < 25
        |  UNION ALL
        |  SELECT doc_id + 200000, text FROM (
        |    SELECT doc_id, text FROM sp WHERE pct >= 0.9 ORDER BY doc_id LIMIT 5)),
        |t AS (SELECT doc_id, text, string_split_regex(trim(text), '\s+') toks FROM fx),
        |b AS (SELECT doc_id, text,
        |    len(toks) n_tok,
        |    list_sum(list_transform(toks, x -> len(x))) sum_len,
        |    len(list_filter(toks, x -> x IN ('the', 'a', 'of', 'and', 'to', 'is'))) n_stop
        |  FROM t),
        |q AS (SELECT doc_id, text FROM b
        |      WHERE 0.5 * least(n_tok * 1.0 / 100.0, 1.0)
        |          + 0.3 * (n_stop * 1.0 / n_tok)
        |          + 0.2 * least((sum_len * 1.0 / n_tok) / 6.0, 1.0) >= 0.5),
        |qt AS (SELECT doc_id, string_split_regex(trim(text), '\s+') toks FROM q),
        |qg AS (SELECT doc_id,
        |    md5(toks[j+1] || ' ' || toks[j+2] || ' ' || toks[j+3] || ' ' || toks[j+4] || ' ' || toks[j+5]) gh
        |  FROM qt, unnest(range(greatest(len(toks)-4, 0))) AS u(j)),
        |tt AS (SELECT string_split_regex(trim(text), '\s+') toks FROM sp WHERE pct >= 0.9),
        |tg AS (SELECT DISTINCT
        |    md5(toks[j+1] || ' ' || toks[j+2] || ' ' || toks[j+3] || ' ' || toks[j+4] || ' ' || toks[j+5]) gh
        |  FROM tt, unnest(range(greatest(len(toks)-4, 0))) AS u(j)),
        |bad AS (SELECT DISTINCT qg.doc_id FROM qg JOIN tg USING (gh))
        |SELECT DISTINCT md5(q.text) AS ch
        |FROM q LEFT JOIN bad ON q.doc_id = bad.doc_id
        |WHERE bad.doc_id IS NULL ORDER BY ch""".stripMargin,

    "q188_streaming_heartbeat_gate" ->
      """WITH k AS (
        |  SELECT CAST(user_id % 50 AS VARCHAR) AS key,
        |    max(epoch_us(ts) // 1000) AS lastms
        |  FROM events GROUP BY 1),
        |wm AS (
        |  SELECT max(epoch_us(ts) // 1000) + 7200000 - 600000 AS w FROM events)
        |SELECT key,
        |  make_timestamp(lastms * 1000) AS last_seen,
        |  make_timestamp((lastms + 21600000) * 1000) AS deadline
        |FROM k, wm WHERE lastms + 21600000 < w
        |ORDER BY key""".stripMargin)
}
