package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Ledger
import graft.sources.Tables

/** Multimodal-column queries (north-star surface). Real media bytes don't
  * exist in the driver tables (and no codec libs exist in this container),
  * so the SQL-expressible slice treats the document text's bytes as the
  * opaque `binary` payload: metadata extraction and fixed-stride frame
  * sampling are structure-only operations that behave identically on real
  * media. The full binary pipeline (typed metadata, batched decode stub,
  * feature extraction) lives in [[graft.multimodal.MediaPipeline]] with its
  * own spec; these queries gate the Spark-side semantics against DuckDB.
  */
object MultimodalQueries {

  private val FrameBytes = 32  // bytes per sampled frame
  private val FrameStride = 128 // sample every 4th 32-byte block

  def defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Media catalog row: kind from id, payload size, content digest, frame
    // count at the sampling stride. Pure per-row projection — the shape of
    // a 100 TB media-manifest scan (never decodes, never shuffles bytes).
    "q60_media_meta" -> ((s, dir) => {
      import s.implicits._
      val kind = element_at(
        typedLit(Seq("image", "audio", "video")), ($"doc_id" % 3).cast("int") + 1)
      Tables.documents(s, dir).select(
          $"doc_id",
          kind.as("kind"),
          octet_length($"text").as("n_bytes"),
          md5($"text".cast("binary")).as("content_md5"),
          (floor((octet_length($"text") - 1) / lit(FrameStride.toDouble)) + 1)
            .cast("int").as("n_frames"))
        .orderBy($"doc_id")
    }),

    // Frame sampling: every FrameStride-th window of FrameBytes, digested.
    // Explode-by-sequence keeps it one narrow generator per row — the plan
    // a video-frame sampler over binary columns would use.
    "q61_frame_sample" -> ((s, dir) => {
      import s.implicits._
      Tables.documents(s, dir)
        .where($"doc_id" % 3 === 2)
        .select($"doc_id", $"text",
          explode(sequence(lit(0),
            floor((octet_length($"text") - 1) / lit(FrameStride.toDouble)).cast("int")))
            .as("frame_no"))
        .select($"doc_id", $"frame_no",
          md5($"text".substr($"frame_no" * FrameStride + 1, lit(FrameBytes))
            .cast("binary")).as("frame_md5"))
        .orderBy($"doc_id", $"frame_no")
    }),

    // Batched decode through MediaPipeline.mapPartitions (the real
    // multimodal plumbing) rolled up per kind — the DETERMINISTIC half of
    // the decode contract: n_bytes/width/height are pure functions of the
    // payload's byte length (MediaPipeline.byteHistogramFeatures, the fallback the synthetic text-byte corpus always takes),
    // so even though the Spark side runs the imperative mapPartitions
    // decoder, DuckDB can recompute the same rollup from octet_length —
    // the oracle verifies the decode plumbing end-to-end.
    "q62_media_features" -> ((s, dir) => {
      import s.implicits._
      import graft.multimodal.MediaPipeline
      val feats = MediaPipeline.decode(
        MediaPipeline.assetsFromDocuments(Tables.documents(s, dir)))
      feats.toDF()
        .groupBy($"kind")
        .agg(count(lit(1)).as("n"),
          sum($"n_bytes").as("total_bytes"),
          round(avg($"width"), 6).as("avg_width"),
          round(avg($"height"), 6).as("avg_height"))
        .transform(Ledger.sorted(3)($"kind"))
    }),

    // Media NEAR-DUP by shared frame digests — how video/audio dedup
    // actually works at scale (keyframe-hash containment): two assets are
    // near-dup candidates when they share sampled-frame digests, no
    // decode and no byte comparison anywhere. Same discipline as the text
    // span machinery (q127): per-asset DISTINCT frame digests, df-capped
    // (a digest in >32 assets is a boilerplate intro/outro frame and
    // would alone generate O(m²) pairs), ONE equi self-join on the
    // digest, pair scores, top-20 by total order. At 100 TB the frame
    // index is the stored artifact and the join is bounded by cap² per
    // digest — the corpus never self-joins on bytes.
    // STORED artifact (r12 wave 3): the top-20 containment pairs are the
    // published media-dedup worklist — exact shared-frame counts over the
    // ingest-time fingerprint table; re-sorted outside the store.
    "q137_media_neardup" -> ((s, dir) =>
      graft.operators.ArtifactStore.table(s, "media_neardup_ledger",
        Seq(s"${dir.stripSuffix("/")}/documents.parquet"),
        s"fs$FrameStride,fb$FrameBytes,k20,bv1") {
      import s.implicits._
      // the per-asset frame-fingerprint table is a STORED artifact in any
      // media-dedup deployment (computed at ingest, read by every probe —
      // the q32/q69 fingerprint-store treatment), and the self-join below
      // reads it twice — cached, or the explode+md5+distinct chain
      // executes once per join side per pass
      val f = Tables.documents(s, dir)
        .select($"doc_id", $"text",
          explode(sequence(lit(0),
            floor((octet_length($"text") - 1) / lit(FrameStride.toDouble)).cast("int")))
            .as("frame_no"))
        .select($"doc_id",
          md5($"text".substr($"frame_no" * FrameStride + 1, lit(FrameBytes))
            .cast("binary")).as("fh"))
        .distinct()
        .cache()
      val rare = f.groupBy($"fh").agg(count(lit(1)).as("m"))
        .where($"m" >= 2 && $"m" <= 32)
      val ff =
        f.join(rare.select($"fh"), Seq("fh"), "left_semi").cache()
      ff.as("a").join(ff.as("b"), $"a.fh" === $"b.fh" && $"a.doc_id" < $"b.doc_id")
        .groupBy($"a.doc_id".as("a_id"), $"b.doc_id".as("b_id"))
        .agg(count(lit(1)).as("n_shared_frames"))
        .orderBy($"n_shared_frames".desc, $"a_id".asc, $"b_id".asc).limit(20)
      }.orderBy(col("n_shared_frames").desc, col("a_id"), col("b_id"))),

    // Feature-vector statistics through the same decode path. The
    // byte-histogram features are an imperative codec stand-in, but they
    // are still a PURE function of the payload bytes (bin i counts bytes
    // with low nibble i, over max(len,1), in float32), so DuckDB can
    // recompute them from hex(text)'s low-nibble characters with REAL
    // division — float32 division is IEEE-identical across engines, and
    // both sides sum the float32 values in double for the avg. Oracled
    // since round 4 (same move that oracled q62's metadata half).
    "q72_media_feature_hist" -> ((s, dir) => {
      import s.implicits._
      import graft.multimodal.MediaPipeline
      val feats = MediaPipeline.decode(
        MediaPipeline.assetsFromDocuments(Tables.documents(s, dir)))
      feats.toDF()
        .groupBy($"kind")
        .agg(count(lit(1)).as("n"),
          round(avg(element_at($"features", 1)), 6).as("avg_f0"),
          round(avg(element_at($"features", 2)), 6).as("avg_f1"))
        .transform(Ledger.sorted(3)($"kind"))
    })
  )

  def oracles: Map[String, String] = Map(
    "q60_media_meta" ->
      s"""SELECT doc_id,
         |  CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
         |  CAST(octet_length(text::BLOB) AS INT) AS n_bytes,
         |  md5(text) AS content_md5,
         |  CAST(floor((octet_length(text::BLOB) - 1) / $FrameStride.0) + 1 AS INT) AS n_frames
         |FROM documents ORDER BY doc_id""".stripMargin,
    "q61_frame_sample" ->
      s"""WITH v AS (SELECT doc_id, text FROM documents WHERE doc_id % 3 = 2),
         |f AS (SELECT doc_id, text, j AS frame_no
         |      FROM v, unnest(range(CAST(floor((octet_length(text::BLOB) - 1) / $FrameStride.0) AS BIGINT) + 1)) AS u(j))
         |SELECT doc_id, CAST(frame_no AS INT) AS frame_no,
         |  md5(substr(text, CAST(frame_no * $FrameStride + 1 AS INT), $FrameBytes)) AS frame_md5
         |FROM f ORDER BY doc_id, frame_no""".stripMargin,
    // q137: same frame-digest law as q61 over ALL assets, per-asset
    // distinct, df-capped, self-joined on the digest.
    "q137_media_neardup" ->
      s"""WITH d AS (SELECT doc_id, text FROM documents),
         |f0 AS (SELECT DISTINCT doc_id,
         |    md5(substr(text, CAST(j * $FrameStride + 1 AS INT), $FrameBytes)) fh
         |  FROM d, unnest(range(CAST(floor((octet_length(text::BLOB) - 1) / $FrameStride.0) AS BIGINT) + 1)) AS u(j)),
         |rare AS (SELECT fh FROM f0 GROUP BY fh
         |         HAVING count(*) >= 2 AND count(*) <= 32),
         |ff AS (SELECT f0.doc_id, f0.fh FROM f0 JOIN rare USING (fh)),
         |p AS (SELECT a.doc_id a_id, b.doc_id b_id, CAST(count(*) AS BIGINT) n_shared_frames
         |      FROM ff a JOIN ff b ON a.fh = b.fh AND a.doc_id < b.doc_id
         |      GROUP BY 1, 2)
         |SELECT a_id, b_id, n_shared_frames FROM p
         |ORDER BY n_shared_frames DESC, a_id ASC, b_id ASC LIMIT 20""".stripMargin,
    // byteHistogramFeatures fallback metadata law (MediaPipeline.scala): n_bytes = len,
    // width = 16 + len % 64, height = 16 + (len / 64) % 64 — recomputed
    // from octet_length; `//` is DuckDB integer floor division, matching
    // Java int division on the non-negative lengths here.
    "q62_media_features" ->
      """SELECT
        |  CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
        |  count(*) AS n,
        |  CAST(sum(octet_length(text::BLOB)) AS BIGINT) AS total_bytes,
        |  round(avg(16 + octet_length(text::BLOB) % 64), 6) AS avg_width,
        |  round(avg(16 + (octet_length(text::BLOB) // 64) % 64), 6) AS avg_height
        |FROM documents GROUP BY 1 ORDER BY kind""".stripMargin,
    // byteHistogramFeatures fallback feature law: features[i] = (# bytes with low nibble i)
    // / max(len, 1), computed in float32. A byte's low nibble is the
    // second hex char of its pair in hex(blob), so bin membership is a
    // character test over every 2nd char; the division is done in REAL
    // (float32) so the per-doc feature is bit-identical to the JVM's
    // Float division before both engines average in double.
    "q72_media_feature_hist" ->
      """WITH b AS (
        |  SELECT doc_id,
        |    CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
        |    octet_length(text::BLOB) AS nb,
        |    hex(text::BLOB) AS h
        |  FROM documents),
        |f AS (
        |  SELECT kind,
        |    CAST(len(list_filter(list_transform(range(nb),
        |        i -> substr(h, CAST(2*i+2 AS INT), 1)), c -> c = '0')) AS FLOAT)
        |      / CAST(greatest(nb, 1) AS FLOAT) AS f0,
        |    CAST(len(list_filter(list_transform(range(nb),
        |        i -> substr(h, CAST(2*i+2 AS INT), 1)), c -> c = '1')) AS FLOAT)
        |      / CAST(greatest(nb, 1) AS FLOAT) AS f1
        |  FROM b)
        |SELECT kind, count(*) AS n,
        |  round(avg(f0), 6) AS avg_f0, round(avg(f1), 6) AS avg_f1
        |FROM f GROUP BY 1 ORDER BY kind""".stripMargin
  )
}
