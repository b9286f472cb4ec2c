package graft

import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions
import graft.vector.VectorOps

/** Native Catalyst expressions (FloatCosine and friends): value parity with
  * the interpreted HOF formulation, SQL registration, codegen soundness.
  */
class NativeExprSpec extends SparkSpec {
  import spark.implicits._

  private def vecs = (1 to 200).map { i =>
    (i.toLong,
      Array.tabulate(64)(j => math.sin(i * 31.7 + j * 1.3).toFloat),
      Array.tabulate(64)(j => math.cos(i * 13.1 + j * 2.9).toFloat))
  }.toDF("id", "a", "b")

  test("native cosine is bit-identical to the HOF formulation") {
    val out = vecs.select(
      GraftFunctions.cosineF(col("a"), col("b")).as("native"),
      VectorOps.cosineHof(col("a"), col("b")).as("hof"))
    assert(out.filter(col("native") =!= col("hof")).count() === 0)
  }

  test("native SRP bucket is bit-identical to the HOF form, fallback and offset included") {
    // maxDims = 32 < the 64-dim vectors: dims 32..63 take the md5
    // FALLBACK path in both forms; planeOffset exercises the multi-table
    // plane selection; default args pin the historical q34/q54/q121 keys
    val out = vecs.select(
      VectorOps.srpBucket(col("a"), 6).as("n0"),
      VectorOps.srpBucketHof(col("a"), 6).as("h0"),
      VectorOps.srpBucket(col("a"), 10, maxDims = 32, planeOffset = 24).as("nf"),
      VectorOps.srpBucketHof(col("a"), 10, maxDims = 32, planeOffset = 24).as("hf"))
    assert(out.filter(col("n0") =!= col("h0") || col("nf") =!= col("hf")).count() === 0)
    // a NULL element poisons every plane's projection → bucket 0 in both
    val poisoned = Seq(Tuple1(Seq[java.lang.Float](1.0f, null, 2.0f)))
      .toDF("a")
      .select(VectorOps.srpBucket(col("a"), 6).as("n"),
        VectorOps.srpBucketHof(col("a"), 6).as("h"))
      .as[(Long, Long)].head()
    assert(poisoned === ((0L, 0L)))
    // a NULL ARRAY yields bucket 0 too (the HOF `when` folds a null
    // projection to the otherwise-0 branch; the DuckDB oracles' CASE WHEN
    // ... ELSE 0 agrees) — covers both the interpreted eval (collect on a
    // local relation) and the codegen path (repartition forces a scan)
    val nullArr = Seq((1L, null: Seq[java.lang.Float]), (2L, Seq[java.lang.Float](1.0f)))
      .toDF("id", "a")
    for (df <- Seq(nullArr, nullArr.repartition(1))) {
      val rows = df.select(col("id"), VectorOps.srpBucket(col("a"), 6).as("n"))
        .collect()
        .map(r => r.getLong(0) -> ((r.isNullAt(1), if (r.isNullAt(1)) -1L else r.getLong(1))))
        .toMap
      assert(rows(1L) === ((false, 0L))) // NULL array → bucket 0, never NULL
      assert(!rows(2L)._1)               // non-null input unchanged
    }
  }

  test("length-mismatched arrays yield null, not a prefix score") {
    val df = Seq((Seq(1.0f, 2.0f, 3.0f), Seq(1.0f, 2.0f))).toDF("a", "b")
      .repartition(1) // exercise the codegen path, not just interpreted eval
      .select(GraftFunctions.cosineF(col("a"), col("b")).as("c"))
    assert(df.collect().head.isNullAt(0))
  }

  test("self-cosine is 1.0 within 1 ulp; null inputs yield null") {
    val out = vecs.select(GraftFunctions.cosineF(col("a"), col("a")).as("c"))
    assert(out.filter(abs(col("c") - 1.0) > 1e-15).count() === 0)
    val n = Seq((Seq(1.0f), null.asInstanceOf[Seq[Float]])).toDF("a", "b")
      .select(GraftFunctions.cosineF(col("a"), col("b"))).collect().head
    assert(n.isNullAt(0))
  }

  test("expressions run inside whole-stage codegen (no fallback)") {
    // repartition first: a bare LocalTableScan of driver-side Seq data is
    // evaluated eagerly without codegen, which would vacuously pass/fail.
    // Execute before inspecting — AQE only finalizes (and shows codegen
    // spans) after the job runs.
    val df = vecs.repartition(2)
      .select(GraftFunctions.cosineF(col("a"), col("b")))
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    // the `*(n)` prefix marks operators inside a WholeStageCodegen span
    assert(plan.split("\n").exists(l => l.contains("graft_cosine") && l.contains("*(")),
      s"projection not inside a codegen span:\n$plan")
  }

  test("SQL registration: graft_cosine callable from spark.sql") {
    // registered by the session's GraftExtensions, with no call on the live session
    vecs.createOrReplaceTempView("native_expr_vecs")
    val r = spark.sql(
      """SELECT graft_cosine(a, b) AS c, graft_cosine(a, a) AS s
        |FROM native_expr_vecs LIMIT 5""".stripMargin).collect()
    assert(r.length === 5)
    assert(r.forall(row => !row.isNullAt(0) && math.abs(row.getDouble(1) - 1.0) < 1e-15))
  }

  test("fused minhash band keys are bit-identical to the HOF pipeline") {
    import graft.text.TextOps
    // real documents (all lengths incl. shingle-less shorties) + synthetic
    // edge cases: empty text, unicode, single token
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"))
      .unionByName(Seq((90001L, ""), (90002L, "solo"),
        (90003L, "naïve café über alles — 中文 text with punctuation!?"),
        (90004L, "a b"), (90005L, "a b c")).toDF("doc_id", "text"))
      .select(col("doc_id"), TextOps.shingles(TextOps.tokens(col("text")), 3).as("sh"))
      .repartition(4)
    val out = docs.select(col("doc_id"),
      TextOps.minhashBandKeys(col("sh"), 16, 8, 2).as("native"),
      TextOps.lshBands(TextOps.minhashFromBase(TextOps.minhashBase(col("sh")), 16),
        8, 2).as("hof"))
    assert(out.filter(not(col("native") <=> col("hof"))).count() === 0)
    // uneven banding params too (k not a multiple of bands×rows)
    val odd = docs.select(
      TextOps.minhashBandKeys(col("sh"), 5, 3, 2).as("native"),
      TextOps.lshBands(TextOps.minhashFromBase(TextOps.minhashBase(col("sh")), 5),
        3, 2).as("hof"))
    assert(odd.filter(not(col("native") <=> col("hof"))).count() === 0)
  }

  test("fused minhash signature is bit-identical to the HOF pipeline") {
    import graft.text.TextOps
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"))
      .unionByName(Seq((90001L, ""), (90002L, "solo"),
        (90003L, "naïve café über alles — 中文 text with punctuation!?"),
        (90004L, "a b"), (90005L, "a b c")).toDF("doc_id", "text"))
      .select(col("doc_id"), TextOps.shingles(TextOps.tokens(col("text")), 3).as("sh"))
      .repartition(4)
    val out = docs.select(col("doc_id"),
      TextOps.minhashSig(col("sh"), 16).as("native"),
      TextOps.minhashFromBase(TextOps.minhashBase(col("sh")), 16).as("hof"))
    assert(out.filter(not(col("native") <=> col("hof"))).count() === 0)
    val odd = docs.select(
      TextOps.minhashSig(col("sh"), 5).as("native"),
      TextOps.minhashFromBase(TextOps.minhashBase(col("sh")), 5).as("hof"))
    assert(odd.filter(not(col("native") <=> col("hof"))).count() === 0)
  }

  test("fused shingle-hash set is bit-identical to the HOF pipeline") {
    import graft.text.TextOps
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"))
      .unionByName(Seq((90001L, ""), (90002L, "solo"),
        (90003L, "a b c a b c a b c"), // duplicate shingles -> distinct matters
        (90004L, "naïve café über alles — 中文 text!?")).toDF("doc_id", "text"))
      .select(col("doc_id"), TextOps.shingles(TextOps.tokens(col("text")), 3).as("sh"))
      .repartition(4)
    val out = docs.select(col("doc_id"),
      TextOps.shingleHashSet(col("sh")).as("native"),
      array_distinct(transform(col("sh"), s => TextOps.hash64(s))).as("hof"))
    assert(out.filter(not(col("native") <=> col("hof"))).count() === 0)
  }

  test("native repetition stats match the exploded groupBy/window formulation") {
    import graft.text.TextOps
    import org.apache.spark.sql.expressions.Window
    val br = org.apache.spark.sql.graft.bridge
    // real docs + a dirtied copy (internal repetition) + degenerate shapes
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"))
      .withColumn("text", when(col("doc_id") % 6 === 0,
        concat(col("text"), lit(" "),
          array_join(slice(TextOps.tokens(col("text")), 1, 10), " ")))
        .otherwise(col("text")))
      .unionByName(Seq((90001L, ""), (90002L, "solo"),
        (90003L, "a a a a a a a a a a"), (90004L, "x y x y x y x y"),
        (90005L, "tie tie two two")).toDF("doc_id", "text"))
      .select(col("doc_id"), TextOps.tokens(col("text")).as("tk"))
      .cache()
    val native = docs.select(col("doc_id"),
      br.column(graft.functions.RepetitionStats(br.expression(col("tk")))).as("rs"))
      .select(col("doc_id"), col("rs.m1"), col("rs.m2"), col("rs.m3"), col("rs.dup5"))
    // the exploded specification (the q123 oracle shape)
    def tag(arr: org.apache.spark.sql.Column, n: Int) =
      transform(arr, g => struct(lit(n).as("n"), g.as("gram")))
    val tagged = concat(tag(col("tk"), 1), tag(TextOps.shingles(col("tk"), 2), 2),
      tag(TextOps.shingles(col("tk"), 3), 3), tag(TextOps.shingles(col("tk"), 5), 5))
    val cnt = docs.select(col("doc_id"), explode(tagged).as("g"))
      .groupBy(col("doc_id"), col("g.n").as("n"), col("g.gram").as("gram"))
      .agg(count(lit(1)).as("c"))
    val rn = row_number().over(
      Window.partitionBy("doc_id", "n").orderBy(col("c").desc, col("gram").asc))
    val tops = cnt.withColumn("rn", rn).filter(col("rn") === 1)
      .withColumn("mass", col("c") * length(col("gram")))
      .groupBy("doc_id")
      .agg(coalesce(max(when(col("n") === 1, col("mass"))), lit(0L)).as("m1"),
        coalesce(max(when(col("n") === 2, col("mass"))), lit(0L)).as("m2"),
        coalesce(max(when(col("n") === 3, col("mass"))), lit(0L)).as("m3"))
    val dup5 = cnt.filter(col("n") === 5 && col("c") >= 2)
      .groupBy("doc_id").agg(sum((col("c") - 1) * length(col("gram"))).as("dup5"))
    val spec = docs.select("doc_id").join(tops, Seq("doc_id"), "left_outer")
      .join(dup5, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), coalesce(col("m1"), lit(0L)).as("m1"),
        coalesce(col("m2"), lit(0L)).as("m2"), coalesce(col("m3"), lit(0L)).as("m3"),
        coalesce(col("dup5"), lit(0L)).as("dup5"))
    assert(native.count() === spec.count())
    assert(native.exceptAll(spec).count() === 0)
    assert(spec.exceptAll(native).count() === 0)
    docs.unpersist()
  }

  test("native norm-tokens are bit-identical to the regex formulation") {
    import graft.text.TextOps
    // adversarial whitespace/unicode corners + the real corpus: leading
    // tab (trim strips only 0x20 -> leading empty token), trailing run
    // (split keeps trailing empties), interior mixed-\s runs as ONE
    // separator, empty / all-space input -> [""], multibyte lowercase
    val edge = Seq("", " ", "   ", "one", " one ", "\tone", "one\t",
      "one\t\ttwo", "a \t\n b", "\n\nx\r\n", "MIXED Case TEXT",
      "naïve CAFÉ 中文tokens", "Straße  GROSS", "\f",
      "a b", "Iİi").zipWithIndex
      .map { case (t, i) => (90000L + i, t) }.toDF("doc_id", "text")
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"))
      .unionByName(edge)
      .repartition(4)
    val out = docs.select(
      TextOps.tokens(col("text")).as("native"),
      TextOps.tokensHof(col("text")).as("hof"))
    assert(out.filter(not(col("native") <=> col("hof"))).count() === 0)
    // null input -> null, like split(regexp_replace(...))
    val n = Seq((1L, Option.empty[String])).toDF("doc_id", "text")
      .select(TextOps.tokens(col("text")).as("native"),
        TextOps.tokensHof(col("text")).as("hof"))
    assert(n.filter(not(col("native") <=> col("hof"))).count() === 0)
    assert(n.filter(col("native").isNull).count() === 1)
  }

  test("native shingles are bit-identical to the HOF formulation") {
    import graft.text.TextOps
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"))
      .unionByName(Seq((91001L, ""), (91002L, "one"), (91003L, "one two"),
        (91004L, "one two three"), (91005L, "naïve café 中文 mixed tokens here"))
        .toDF("doc_id", "text"))
      .repartition(4)
    for (n <- Seq(2, 3, 8)) {
      val out = docs.select(
        TextOps.shingles(TextOps.tokens(col("text")), n).as("native"),
        TextOps.shinglesHof(TextOps.tokens(col("text")), n).as("hof"))
      assert(out.filter(not(col("native") <=> col("hof"))).count() === 0, s"n=$n")
    }
  }

  test("native jaccard is bit-identical to the set-function formulation") {
    import graft.text.TextOps
    val pairs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), TextOps.shingles(TextOps.tokens(col("text")), 3).as("sh"))
      .repartition(4)
    val joined = pairs.select(col("doc_id").as("ida"), col("sh").as("a"))
      .join(pairs.select((col("doc_id") - 3).as("ida"), col("sh").as("b")), Seq("ida"))
    assert(joined
      .select(TextOps.jaccard(col("a"), col("b")).as("n"),
        TextOps.jaccardHof(col("a"), col("b")).as("h"))
      .filter(not(col("n") <=> col("h"))).count() === 0)
    // edge cases: empty/empty (0.0), disjoint, identical, dup-carrying
    val edge = Seq(
      (Seq.empty[String], Seq.empty[String]),
      (Seq("a", "b"), Seq("c")),
      (Seq("a", "b", "a"), Seq("b", "a", "b")),
      (Seq("x"), Seq.empty[String])).toDF("a", "b")
    assert(edge.select(TextOps.jaccard(col("a"), col("b")).as("n"),
        TextOps.jaccardHof(col("a"), col("b")).as("h"))
      .filter(not(col("n") <=> col("h"))).count() === 0)
  }

  test("bloom wrapper: zero false negatives, bounded false-positive rate") {
    import graft.functions.Bloom
    val vals = (1L to 5000L).map(_ * 7919L).toDF("v").repartition(4)
    val bytes = vals.agg(Bloom.bloomAgg(col("v"), 10000L).as("b"))
      .head().getAs[Array[Byte]](0)
    // the hard guarantee: every inserted value hits
    assert(vals.filter(not(Bloom.mightContain(lit(bytes), col("v")))).count() === 0)
    // the soft one: non-members (offset by 1) rarely hit
    val fp = (1L to 5000L).map(_ * 7919L + 1).toDF("v")
      .filter(Bloom.mightContain(lit(bytes), col("v"))).count()
    assert(fp.toDouble / 5000 <= 0.05, s"false-positive rate $fp/5000")
  }

  test("fused minhash band keys run inside whole-stage codegen") {
    import graft.text.TextOps
    // shingle computation (interpreted HOFs) belongs to the pre-exchange
    // projection, mirroring the real queries where `sh` is a cached
    // column — the band projection itself must stay inside codegen
    val df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(TextOps.shingles(TextOps.tokens(col("text")), 3).as("sh"))
      .repartition(2)
      .select(TextOps.minhashBandKeys(col("sh")).as("bk"))
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.split("\n").exists(l =>
      l.contains("graft_minhash_bands") && l.contains("*(")),
      s"projection not inside a codegen span:\n$plan")
  }
}
