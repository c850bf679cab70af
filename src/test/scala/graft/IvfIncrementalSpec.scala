package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.IvfIncremental

/** Laws of the incrementally-maintained IVF index:
  *
  *   1. append == from-scratch assignment under the same frozen
  *      centroids (the quantizer law, exact);
  *   2. appends compose — two batches land exactly as their union;
  *   3. staleness restates the per-cell new/total fraction and the
  *      threshold flag; needsRetrain fires iff a cell crossed it;
  *   4. retrain resets every row to generation 0 over the full corpus
  *      and re-freezes centroids deterministically (two builds on the
  *      same data produce identical centroid tables).
  */
class IvfIncrementalSpec extends SparkSpec {

  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"

  private def corpus(): DataFrame =
    graft.sources.Tables.embeddings(spark, dir)
      .select($"vec_id", $"embedding".cast("array<double>").as("v"))

  test("append equals frozen-centroid assignment; appends compose") {
    val idx = tmpDir("ivf-idx")
    val all = corpus().cache()
    val base = all.where($"vec_id" % 5 =!= 0)
    val waveA = all.where($"vec_id" % 5 === 0 && $"vec_id" % 2 === 0)
    val waveB = all.where($"vec_id" % 5 === 0 && $"vec_id" % 2 =!= 0)
    IvfIncremental.build(spark, base, idx)
    val nA = IvfIncremental.append(spark, idx, waveA)
    val nB = IvfIncremental.append(spark, idx, waveB)
    assert(nA == waveA.count() && nB == waveB.count())

    // law 1+2: appended rows == one-shot frozen assignment of the union
    val cents = IvfIncremental.centroids(spark, idx)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"vec_id").orderBy($"ccos".desc, $"cl".asc)
    import graft.functions.VectorFunctions.dot
    val expected = waveA.unionAll(waveB)
      .select($"vec_id", $"v", sqrt(dot($"v", $"v")).as("nrm"))
      .crossJoin(broadcast(cents))
      .select($"vec_id", $"cl", (dot($"v", $"cv") / ($"nrm" * $"cnrm")).as("ccos"))
      .withColumn("rn", row_number().over(w)).where($"rn" === 1)
      .select($"vec_id", $"cl").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val got = IvfIncremental.assignments(spark, idx).where($"gen" > 0)
      .collect().map(r => r.getAs[Long]("vec_id") -> r.getAs[Int]("cell")).toMap
    assert(got == expected, "appended assignments equal the frozen quantizer law")

    // law 3: staleness restates the fractions; flag iff frac > threshold
    val st = IvfIncremental.staleness(spark, idx, threshold = 0.1).collect()
    assert(st.map(r => r.getLong(1) + r.getLong(2)).sum == all.count())
    st.foreach { r =>
      val (nb, nn, frac, stale) =
        (r.getLong(1), r.getLong(2), r.getDouble(3), r.getBoolean(4))
      assert(math.abs(frac - nn.toDouble / (nb + nn)) < 1e-6 + 5e-7)
      assert(stale == (nn.toDouble / (nb + nn) > 0.1))
    }
    val anyStale = st.exists(_.getBoolean(4))
    assert(IvfIncremental.needsRetrain(spark, idx, 0.1) == anyStale)

    // law 4: retrain resets generations and covers the full corpus
    IvfIncremental.retrain(spark, all, idx)
    val after = IvfIncremental.assignments(spark, idx)
    assert(after.where($"gen" > 0).count() == 0)
    assert(after.count() == all.count())
    assert(!IvfIncremental.needsRetrain(spark, idx, 0.1))
    graft.operators.ResultMemo.release(spark)
  }

  test("streaming drain == batch append, assignment-for-assignment") {
    // the q252 law: StreamingIvfAppend's per-micro-batch appends under
    // frozen centroids land EXACTLY the batch append's (vec_id, cell)
    // set — only `gen` (arrival bookkeeping) may differ — and the
    // generation high-water mark counts the staged files.
    val all = corpus().cache()
    val base = all.where($"vec_id" % 5 =!= 0)
    val arrivals = all.where($"vec_id" % 5 === 0)

    val idxBatch = tmpDir("ivf-batch")
    IvfIncremental.build(spark, base, idxBatch)
    IvfIncremental.append(spark, idxBatch, arrivals)

    val scratch = tmpDir("ivf-stream")
    val idxStream = s"$scratch/idx"
    IvfIncremental.build(spark, base, idxStream)
    val arrDir = s"$scratch/arrivals"
    arrivals.repartition(2).write.mode("overwrite").parquet(arrDir)
    val schema = spark.read.parquet(arrDir).schema
    graft.streaming.StreamingIvfAppend.run(spark, idxStream,
      spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
        .parquet(arrDir),
      s"$scratch/ckpt")

    def cellsOf(idx: String): Set[(Long, Int)] =
      IvfIncremental.assignments(spark, idx)
        .select($"vec_id", $"cell").as[(Long, Int)].collect().toSet
    assert(cellsOf(idxStream) == cellsOf(idxBatch),
      "streaming micro-batch split must not move any assignment")
    val maxGen = IvfIncremental.assignments(spark, idxStream)
      .agg(max($"gen")).as[Int].head()
    assert(maxGen == 2, "one generation per staged file")
    all.unpersist()
  }

  test("append onto an empty cells table lands as generation 0 (no NPE on null max)") {
    val idx = tmpDir("ivf-empty")
    val all = corpus().cache()
    // Index with trained centroids but ZERO assigned rows — the
    // max(gen)=null shape: build, then truncate cells.
    IvfIncremental.build(spark, all, idx)
    val emptyCells = IvfIncremental.assignments(spark, idx).where(lit(false)).cache()
    emptyCells.count()
    emptyCells.write.mode("overwrite").parquet(s"$idx/cells")
    assert(IvfIncremental.assignments(spark, idx).count() == 0L)
    val wave = all.limit(7)
    val n = IvfIncremental.append(spark, idx, wave) // NPE'd before the coalesce fix
    assert(n == wave.count())
    val gens = IvfIncremental.assignments(spark, idx)
      .select($"gen").distinct().as[Int].collect().toSet
    assert(gens == Set(0), s"first append onto empty cells is gen 0, got $gens")
    graft.operators.ResultMemo.release(spark)
  }

  test("build is deterministic: same corpus, identical centroid tables") {
    val i1 = tmpDir("ivf-d1")
    val i2 = tmpDir("ivf-d2")
    val c = corpus()
    IvfIncremental.build(spark, c, i1)
    IvfIncremental.build(spark, c, i2)
    val t1 = IvfIncremental.centroids(spark, i1)
      .collect().map(r => (r.getInt(0), r.getSeq[Double](1))).sortBy(_._1)
    val t2 = IvfIncremental.centroids(spark, i2)
      .collect().map(r => (r.getInt(0), r.getSeq[Double](1))).sortBy(_._1)
    assert(t1.sameElements(t2), "6dp-rounded Lloyd chain is deterministic")
    graft.operators.ResultMemo.release(spark)
  }
}
