package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.vector.VectorOps

/** Embedding similarity: cosine/norm, exact top-k, SRP bucketing, and
  * the capped LSH candidate-pair generator.
  */
class VectorOpsSpec extends SparkSpec {
  import spark.implicits._

  test("norm and cosine on known vectors") {
    val df = Seq((Seq(1.0f, 2.0f, 2.0f), Seq(2.0f, 0.0f, 0.0f))).toDF("a", "b")
      .select(VectorOps.norm(col("a")).as("n"),
        VectorOps.cosine(col("a"), col("b")).as("c"))
    val r = df.collect().head
    assert(r.getDouble(0) === 3.0)
    assert(math.abs(r.getDouble(1) - 2.0 / (3.0 * 2.0)) < 1e-12)
  }

  test("cosine of a vector with itself is 1") {
    val df = Seq(Tuple1(Seq(0.3f, -0.7f, 0.648f))).toDF("v")
      .select(VectorOps.cosine(col("v"), col("v")).as("c"))
    assert(math.abs(df.as[Double].head() - 1.0) < 1e-12)
  }

  test("scalarQuantize: extremes map to 0/255, codes reconstruct within half a step") {
    val vecs = Seq(
      (1L, Seq(0.0f, -1.0f)),
      (2L, Seq(1.0f, 1.0f)),
      (3L, Seq(0.5f, 0.0f)))
    val out = VectorOps.scalarQuantize(vecs.toDF("vec_id", "embedding"),
        col("vec_id"), col("embedding"))
      .as[(Long, Seq[Int])].collect().toMap
    assert(out(1L) === Seq(0, 0))       // per-dim minima
    assert(out(2L) === Seq(255, 255))   // per-dim maxima
    assert(out(3L) === Seq(128, 128))   // midpoints round to 128 (half-up)
    // reconstruction: |x − (q/255·(mx−mn)+mn)| ≤ step/2 for every cell
    val (mn, mx) = (Seq(0.0, -1.0), Seq(1.0, 1.0))
    vecs.foreach { case (id, v) =>
      v.zipWithIndex.foreach { case (x, i) =>
        val rec = out(id)(i) / 255.0 * (mx(i) - mn(i)) + mn(i)
        assert(math.abs(x - rec) <= (mx(i) - mn(i)) / 255.0 / 2 + 1e-12)
      }
    }
  }

  test("bruteForceTopK returns k nearest by cosine, excluding self") {
    val vecs = Seq(
      (1L, Seq(1.0f, 0.0f)),
      (2L, Seq(0.9f, 0.1f)),   // closest to 1
      (3L, Seq(0.0f, 1.0f)),   // orthogonal to 1
      (4L, Seq(-1.0f, 0.0f))   // opposite
    ).toDF("id", "vec")
    val out = VectorOps.bruteForceTopK(vecs.filter(col("id") === 1), vecs, 2)
      .select("neighbor_id", "rank").as[(Long, Int)].collect().toSeq.sortBy(_._2)
    assert(out === Seq((2L, 1), (3L, 2)))
  }

  test("srpBucket is deterministic and within [0, 2^planes)") {
    val vecs = (1 to 50).map(i => (i.toLong, Seq.tabulate(8)(j =>
      math.sin(i * 31 + j * 7).toFloat))).toDF("id", "vec")
    val b1 = vecs.select(col("id"), VectorOps.srpBucket(col("vec"), 6).as("b"))
      .as[(Long, Long)].collect().toMap
    val b2 = vecs.select(col("id"), VectorOps.srpBucket(col("vec"), 6).as("b"))
      .as[(Long, Long)].collect().toMap
    assert(b1 === b2)
    assert(b1.values.forall(v => v >= 0 && v < 64))
  }

  test("identical vectors share an SRP bucket; lshCandidatePairs finds them") {
    val v = Seq.tabulate(8)(j => (j + 1).toFloat)
    val vecs = Seq((1L, v), (2L, v), (3L, v.map(-_)))
      .toDF("id", "vec")
    val pairs = VectorOps.lshCandidatePairs(vecs, 4, 0.9)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSeq
    assert(pairs === Seq((1L, 2L))) // opposite vector never buckets with v
  }

  test("srpChainPairs: identical vectors pair; opposite vectors never do") {
    val v = Seq.tabulate(8)(j => (j + 1).toFloat)
    val vecs = Seq((1L, v), (2L, v), (3L, v.map(-_))).toDF("id", "vec")
    val pairs = VectorOps.srpChainPairs(vecs, tables = 2, planesPerTable = 4,
        neighborWidth = 3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSeq.sorted
    assert(pairs.contains((1L, 2L)))         // co-bucket in every table
    assert(pairs.forall { case (a, b) => a != 3L && b != 3L })
  }

  test("srpChainPairs: candidate count is chain-bounded even in a degenerate bucket") {
    // 100 IDENTICAL vectors — every one lands in the SAME bucket of every
    // table (the worst-case skew: boilerplate embeddings). All-pairs would
    // be 4950; the chain bound is J·n − J(J+1)/2 per table, and both
    // tables produce the SAME id-adjacent pairs, so distinct = 294.
    val v = Seq.tabulate(8)(j => math.sin(j * 1.7).toFloat)
    val vecs = (1L to 100L).map(i => (i, v)).toDF("id", "vec")
    val n = VectorOps.srpChainPairs(vecs, tables = 2, planesPerTable = 4,
      neighborWidth = 3).count()
    assert(n === 3L * 100 - 3 * 4 / 2) // 294, not 4950
  }

  test("srpBucket planeOffset selects an independent plane set") {
    val vecs = (1 to 40).map(i => (i.toLong, Seq.tabulate(8)(j =>
      math.sin(i * 13 + j * 5).toFloat))).toDF("id", "vec")
    val both = vecs.select(
        VectorOps.srpBucket(col("vec"), 6).as("b0"),
        VectorOps.srpBucket(col("vec"), 6, planeOffset = 6).as("b6"))
      .as[(Long, Long)].collect()
    assert(both.exists { case (a, b) => a != b }) // different planes
    assert(both.forall { case (a, b) => a >= 0 && a < 64 && b >= 0 && b < 64 })
  }

  test("ivfAssign: every vector gets exactly one centroid; sampled codebook is deterministic") {
    val vecs = (1L to 100L).map(i => (i, Seq.tabulate(8)(j =>
      math.sin(i * 3.1 + j).toFloat))).toDF("id", "vec")
    val a1 = VectorOps.ivfAssign(vecs, nCentroids = 8)
    assert(a1.count() === 100)
    assert(a1.select("id").distinct().count() === 100)
    assert(a1.select("centroid_id").distinct().count() <= 8)
    val a2 = VectorOps.ivfAssign(vecs, nCentroids = 8)
    assert(sortedRows(a1.select("id", "centroid_id")) === sortedRows(a2.select("id", "centroid_id")))
  }

  test("ivfSearch with nprobe = nCentroids recovers the exact brute-force top-k") {
    val vecs = (1L to 60L).map(i => (i, Seq.tabulate(8)(j =>
      math.cos(i * 2.3 + j * 0.7).toFloat))).toDF("id", "vec")
    val q = vecs.filter(col("id") <= 3)
    val exact = VectorOps.bruteForceTopK(q, vecs, 4)
      .select("query_id", "neighbor_id", "rank")
    val ivf = VectorOps.ivfSearch(q, vecs, nCentroids = 8, nprobe = 8, k = 4)
      .select("query_id", "neighbor_id", "rank")
    assert(sortedRows(ivf) === sortedRows(exact))
  }

  test("TopKAgg: typed aggregator equals the window top-k, map-side mergeable") {
    import graft.vector.TopKAgg
    val rows = (for {
      g <- 1L to 5L; i <- 1L to 200L
    } yield (g, i, math.sin(g * 977 + i * 13).toDouble)).toDS()
      .repartition(8) // force multi-partition merge path
    val agg = rows.groupByKey(_._1)
      .agg(TopKAgg(3).toColumn)
      .flatMap { case (g, entries) =>
        entries.zipWithIndex.map { case ((score, id), i) => (g, id, score, i + 1) }
      }.collect().toSet
    val w = Window.partitionBy("_1").orderBy(col("_3").desc, col("_2"))
    val expected = rows.toDF().withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .as[(Long, Long, Double, Int)].collect().toSet
    assert(agg === expected)
  }

  test("lshCandidatePairs emits no duplicate pairs and respects the bucket cap") {
    val v = Seq.tabulate(4)(_.toFloat + 1)
    val vecs = (1L to 30L).map(i => (i, v)).toDF("id", "vec") // one hot bucket
    val capped = VectorOps.lshCandidatePairs(vecs, 3, -1.0, maxBucketSize = 10)
    assert(capped.count() === 0) // 30 > cap -> excluded entirely
    val ok = VectorOps.lshCandidatePairs(vecs, 3, -1.0, maxBucketSize = 100)
    val pairs = ok.select("id_a", "id_b").as[(Long, Long)].collect().toSeq
    assert(pairs.size === 30 * 29 / 2)
    assert(pairs.distinct.size === pairs.size)
    assert(pairs.forall { case (a, b) => a < b })
  }

  test("pqEncode: m codes per vector, all within [0, ks); deterministic") {
    val vecs = (1L to 40L).map(i => (i, Seq.tabulate(8)(j =>
      math.sin(i * 5.7 + j * 1.3).toFloat))).toDF("id", "vec")
    val e1 = VectorOps.pqEncode(vecs, m = 4, subDim = 2, ks = 8)
      .as[(Long, Seq[Int])].collect().toMap
    assert(e1.size === 40)
    assert(e1.values.forall(c => c.size === 4 && c.forall(x => x >= 0 && x < 8)))
    val e2 = VectorOps.pqEncode(vecs, m = 4, subDim = 2, ks = 8)
      .as[(Long, Seq[Int])].collect().toMap
    assert(e1 === e2)
  }

  test("pqAdcTopK with ks = |corpus| is the exact squared-L2 top-k") {
    // every vector sampled into the codebook -> each subvector encodes to
    // its own exact copy (distance 0 is the argmin), so ADC distance IS
    // the true squared L2 and the ranking must match a direct computation
    val raw = (1L to 30L).map(i => (i, Seq.tabulate(8)(j =>
      math.cos(i * 2.9 + j * 0.83).toFloat)))
    val vecs = raw.toDF("id", "vec")
    val q = vecs.filter(col("id") <= 3)
    val got = VectorOps.pqAdcTopK(q, vecs, m = 4, subDim = 2, ks = 30, k = 5)
      .as[(Long, Long, Int)].collect().toSet
    def l2(a: Seq[Float], b: Seq[Float]): Double =
      a.zip(b).map { case (x, y) => (x.toDouble - y) * (x.toDouble - y) }.sum
    val expected = (for {
      (qid, qv) <- raw.take(3)
    } yield raw.filter(_._1 != qid)
      .map { case (nid, nv) => (nid, l2(qv, nv)) }
      .sortBy { case (nid, d2) => (d2, nid) }.take(5).zipWithIndex
      .map { case ((nid, _), r) => (qid, nid, r + 1) }).flatten.toSet
    assert(got === expected)
  }

  test("rerankExact over a pqAdcTopK shortlist >= |corpus| equals bruteForceTopK") {
    val vecs = (1L to 50L).map(i => (i, Seq.tabulate(8)(j =>
      math.sin(i * 1.7 + j * 2.1).toFloat))).toDF("id", "vec")
    val q = vecs.filter(col("id") <= 4)
    val exact = VectorOps.bruteForceTopK(q, vecs, 3)
      .select("query_id", "neighbor_id", "rank")
    // the two-stage composition q167 runs: ADC shortlist, then exact re-rank
    val short = VectorOps.pqAdcTopK(q, vecs, m = 4, subDim = 2, ks = 8, k = 50)
    val rr = VectorOps.rerankExact(short, q, vecs, k = 3)
    assert(sortedRows(rr) === sortedRows(exact))
  }

  test("jlProject matches the md5-sign model; zero vector projects to zero") {
    // reimplement the sign formula independently and check one projection
    def sign(j: Int, i: Int): Double = {
      val b0 = java.security.MessageDigest.getInstance("MD5")
        .digest(s"jl|$j|$i".getBytes("UTF-8"))(0)
      if (((b0 >> 4) & 1) == 1) 1.0 else -1.0
    }
    val v = Seq.tabulate(8)(i => (0.25f * (i + 1)) * (if (i % 3 == 0) -1 else 1))
    val out = Seq((1L, v), (2L, Seq.fill(8)(0.0f))).toDF("id", "vec")
      .select(col("id"), VectorOps.jlProject(col("vec"), 4, 8).as("p"))
      .as[(Long, Seq[Double])].collect().toMap
    val expected = (0 until 4).map(j =>
      v.indices.map(i => v(i).toDouble * sign(j, i)).sum / 2.0)
    out(1L).zip(expected).foreach { case (got, exp) =>
      assert(math.abs(got - exp) < 1e-12) }
    assert(out(2L).forall(_ === 0.0))
  }

  test("q167 recall contract: PQ shortlist+rerank clears the micro-recall floor") {
    val rows = graft.SparkEntry.queries("q167_pq_recall")(spark, "/root/testdata/sf0.001")
      .collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getAs[Boolean]("meets_recall_floor")),
      s"rerank micro recall ${rows.head.getAs[Double]("micro_recall_rerank")} below floor")
  }

  test("q171 distortion contract: JL mean distance ratio inside the bound") {
    val rows = graft.SparkEntry.queries("q171_jl_distortion")(spark, "/root/testdata/sf0.001")
      .collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getAs[Boolean]("meets_distortion_bound")),
      s"mean ratio ${rows.head.getAs[Double]("mean_ratio")} outside [0.7, 1.4]")
  }

  test("q165 recall contract: IVF at nprobe=4 clears the micro-recall floor") {
    // the floor boolean is COMPUTED on both sides of the oracle pair, so
    // a recall collapse would still hash-match there — this is the test
    // that actually turns red if the coarse quantizer stops earning its
    // keep on the known corpus
    val rows = graft.SparkEntry.queries("q165_ivf_recall")(spark, "/root/testdata/sf0.001")
      .collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getAs[Boolean]("meets_recall_floor")),
      s"micro recall ${rows.head.getAs[Double]("micro_recall_at_5")} below floor")
  }
}
