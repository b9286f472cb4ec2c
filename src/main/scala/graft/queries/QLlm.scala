package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.ops.Dedup
import graft.text.TextOps
import graft.vector.VectorOps

/** Training-data-pipeline queries over `documents`/`embeddings` — the
  * extended operator surface a 100 TB corpus pipeline needs (dedup family,
  * similarity search, text analysis, fingerprinting, multimodal metadata).
  *
  * Every hash is md5-derived ([[TextOps.hash64]]) so the DuckDB oracle can
  * reproduce it bit-for-bit via `('0x' || substr(md5(x),1,15))::BIGINT` —
  * no engine-private hash functions anywhere. Float reductions are
  * sequential left-folds over arrays in BOTH engines (Spark `aggregate`,
  * DuckDB `list_sum`), so doubles compare exactly.
  */
object QLlm {

  private[queries] def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** events.parquet is TIMESTAMP(NANOS) — normalized to a µs session-zone
    * timestamp whatever the runtime reads it as (NTZ on Spark 4.1+,
    * nanos-long under the legacy flag); see [[graft.io.Tables.eventsMicros]]. */
  private[queries] def events(s: SparkSession, dir: String): DataFrame =
    graft.io.Tables.eventsMicros(s, dir)

  /** Events with a per-user `session_num`: a new session starts at a
    * user's first event and after every 30-minute gap (q40, q158). Both
    * windows are user-partitioned, never a global window over raw events. */
  private[queries] def sessionized(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val run = Window.partitionBy("user_id").orderBy("ts", "event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    events(s, dir).withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(w))
      .withColumn("new_session",
        when(col("prev_us").isNull ||
          unix_micros(col("ts")) - col("prev_us") > 1800000000L, 1).otherwise(0))
      .withColumn("session_num", sum("new_session").over(run))
  }

  /** documents/embeddings arrive as ONE small parquet file → one input
    * partition, but the per-row work downstream (shingling, minhash,
    * simhash, cosine — all interpreted higher-order expressions) is CPU
    * bound, so a round-robin repartition right after the scan is the
    * difference between 1 core and all of them. Same move applies on a
    * cluster whenever a small input fans out into expensive map work;
    * at 100 TB the scan itself yields thousands of splits and this
    * becomes a no-op cost-wise (one extra exchange of the slim input). */
  private[queries] def spread(s: SparkSession, df: DataFrame): DataFrame =
    df.repartition(s.sparkContext.defaultParallelism)

  // ---- shared DuckDB SQL fragments ------------------------------------
  private[queries] def h64(e: String) = s"(('0x' || substr(md5($e), 1, 15))::BIGINT)"
  private[queries] val normSql = "regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')"
  private[queries] val toksSql = s"string_split($normSql, ' ')"
  // 3-word shingles of a token list named `tk`
  private def shinglesSql(tk: String) =
    s"""CASE WHEN len($tk) >= 3
       |  THEN list_transform(range(0, len($tk) - 2),
       |         i -> $tk[i + 1] || ' ' || $tk[i + 2] || ' ' || $tk[i + 3])
       |  ELSE [] END""".stripMargin

  /** documents plus near-duplicate mutations: every 5th doc re-appears as
    * doc_id+10000 with a 2-token suffix; every 7th as doc_id+20000 verbatim. */
  private[graft] def docsWithDups(s: SparkSession, dir: String): DataFrame = {
    val d = spread(s, t(s, dir, "documents")).select("doc_id", "text")
    d.unionByName(d.filter(col("doc_id") % 5 === 0)
        .select((col("doc_id") + 10000).as("doc_id"),
          concat(col("text"), lit(" trailing marker")).as("text")))
      .unionByName(d.filter(col("doc_id") % 7 === 0)
        .select((col("doc_id") + 20000).as("doc_id"), col("text")))
  }

  private[queries] val docsWithDupsSql =
    """SELECT doc_id, text FROM documents
      |UNION ALL SELECT doc_id + 10000, text || ' trailing marker' FROM documents WHERE doc_id % 5 = 0
      |UNION ALL SELECT doc_id + 20000, text FROM documents WHERE doc_id % 7 = 0""".stripMargin

  // ---- shared chain near-dup machinery (q29 + q177) --------------------

  /** Chain candidates + verified similarity over the dup-injected corpus:
    * `(id_a, id_b, jacc)` with `jacc >= 0.5`, `id_a < id_b`. Band keys
    * (native fused minhash) and the HASHED verify sets are computed ONCE
    * per doc and cached together, so every downstream exchange — the
    * chain window, the two verify joins — moves 8 key strings + a slim
    * `array<long>` instead of the shingle strings (−25% wall at 100×
    * rows, measured). Verification is set-Jaccard over the doc's
    * DISTINCT 60-bit md5 shingle hashes — equal to string-set Jaccard
    * unless two distinct shingles of the same pair collide in 60 bits
    * (p ≈ 5e−15 per pair; the oracle hashes identically, so even a
    * collision could not desync engine and oracle). */
  private def chainScoredPairs(s: SparkSession, dir: String): DataFrame = {
    val docs = docsWithDups(s, dir)
      .select(col("doc_id"), TextOps.shingles(TextOps.tokens(col("text")), 3).as("sh"))
      .filter(size(col("sh")) > 0)
      .select(col("doc_id"),
        TextOps.minhashBandKeys(col("sh"), 16, 8, 2).as("bks"),
        TextOps.shingleHashSet(col("sh")).as("hs"))
      .cache()
    val keys = docs.select(col("doc_id"), explode(col("bks")).as("band_key"))
    val cand = Dedup.chainCandidatesFromKeys(keys, neighborWidth = 3)
    val inter = size(array_intersect(col("ha"), col("hb"))).cast("double")
    val uni = (size(col("ha")) + size(col("hb"))).cast("double") - inter
    val jac = when(uni === 0.0, 0.0).otherwise(inter / uni)
    cand
      .join(docs.select(col("doc_id").as("id_a"), col("hs").as("ha")), Seq("id_a"))
      .join(docs.select(col("doc_id").as("id_b"), col("hs").as("hb")), Seq("id_b"))
      .select(col("id_a"), col("id_b"), round(jac, 6).as("jacc"))
      .filter(col("jacc") >= 0.5)
  }

  /** DuckDB CTE chain ending in `scored(id_a, id_b, jacc)` — mirrors
    * [[chainScoredPairs]] exactly (same minhash bands, same chain
    * window, same hashed-set Jaccard). */
  private lazy val chainScoredSql: String = {
    val (as, bs) = TextOps.minhashParams(16)
    val aArr = as.mkString("[", ",", "]")
    val bArr = bs.mkString("[", ",", "]")
    s"""WITH d0 AS ($docsWithDupsSql),
    |d AS (SELECT doc_id, ${shinglesSql(toksSql)} AS sh FROM d0),
    |docs AS (SELECT doc_id, sh,
    |    list_distinct(list_transform(sh, s -> ${h64("s")})) AS hsh
    |  FROM d WHERE len(sh) > 0),
    |bases AS (SELECT doc_id,
    |    list_transform(sh, s -> ${h64("s")} % ${TextOps.minhashM}) AS hs FROM docs),
    |sigs AS (SELECT doc_id,
    |    list_transform(range(0, 16), i -> list_min(list_transform(hs,
    |      h -> (h * ($aArr)[i + 1] + ($bArr)[i + 1]) % ${TextOps.minhashM}))) AS sig
    |  FROM bases),
    |keys AS (SELECT doc_id, unnest(list_transform(range(0, 8),
    |    b -> CAST(b AS VARCHAR) || ':' || md5(array_to_string(
    |           sig[b * 2 + 1 : b * 2 + 2], ',')))) AS band_key
    |  FROM sigs),
    |c0 AS (SELECT doc_id,
    |    [lead(doc_id, 1) OVER wd, lead(doc_id, 2) OVER wd,
    |     lead(doc_id, 3) OVER wd] AS nxt
    |  FROM keys WINDOW wd AS (PARTITION BY band_key ORDER BY doc_id)),
    |cand AS (SELECT DISTINCT id_a, id_b FROM (
    |    SELECT doc_id AS id_a, unnest(nxt) AS id_b FROM c0)
    |  WHERE id_b IS NOT NULL),
    |scored AS (SELECT id_a, id_b,
    |  round(CASE WHEN len(da.hsh) + len(db.hsh) - len(list_intersect(da.hsh, db.hsh)) = 0
    |    THEN 0.0
    |    ELSE CAST(len(list_intersect(da.hsh, db.hsh)) AS DOUBLE)
    |         / (len(da.hsh) + len(db.hsh) - len(list_intersect(da.hsh, db.hsh))) END,
    |    6) AS jacc
    |FROM cand JOIN docs da ON da.doc_id = id_a JOIN docs db ON db.doc_id = id_b)""".stripMargin
  }

  // ---- shared BM25 fragments (q88 + the q101 fusion) -------------------
  private val bm25Terms = Seq("spark", "merge", "window")

  /** The Spark-side BM25 top-20: scorer + rounded order + limit. */
  private def bm25Top(s: SparkSession, dir: String): DataFrame =
    graft.text.Search.bm25(
        spread(s, t(s, dir, "documents")), col("doc_id"), col("text"), bm25Terms)
      .filter(col("score") > 0)
      .select(col("doc_id"), round(col("score"), 6).as("score"))
      .orderBy(desc("score"), col("doc_id")).limit(20)

  /** DuckDB CTE chain ending in `scored(doc_id, score)` — mirrors
    * [[graft.text.Search.bm25]] expression-for-expression (see q88 notes);
    * shared verbatim by q88 and q101 so the formula can never fork. */
  private val bm25ScoredCtes: String = {
    val tfs = bm25Terms.zipWithIndex.map { case (t, i) =>
      s"len(list_filter(tk, x -> x = '$t')) AS tf_$i"
    }.mkString(",\n  ")
    val dfs = bm25Terms.indices.map(i =>
      s"sum(CASE WHEN tf_$i > 0 THEN 1 ELSE 0 END) AS df_$i").mkString(", ")
    val contribs = bm25Terms.indices.map(i =>
      s"""(ln((n_docs - df_$i + 0.5) / (df_$i + 0.5) + 1.0)
         |    * (CAST(tf_$i AS DOUBLE) * (1.2 + 1.0))
         |    / (CAST(tf_$i AS DOUBLE) + 1.2 * (1.0 - 0.75
         |       + 0.75 * (CAST(dl AS DOUBLE) / (CAST(sum_dl AS DOUBLE) / n_docs)))))"""
        .stripMargin).mkString("\n  + ")
    s"""d AS (SELECT doc_id, $toksSql AS tk FROM documents),
    |base AS (SELECT doc_id, len(tk) AS dl,
    |  $tfs
    |  FROM d),
    |stats AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
    |    CAST(sum(dl) AS BIGINT) AS sum_dl, $dfs FROM base),
    |scored AS (SELECT doc_id,
    |  $contribs AS score
    |  FROM base CROSS JOIN stats)""".stripMargin
  }

  val all: Seq[Qry] = Seq(

    // exact dedup — hash clusters with representative + multiplicity
    Qry("q26_exact_dedup",
      (s, dir) => Dedup.exactClusters(docsWithDups(s, dir),
        col("doc_id"), md5(TextOps.normText(col("text")))),
      Some(s"""WITH d AS ($docsWithDupsSql)
        |SELECT md5($normSql) AS content_hash, CAST(min(doc_id) AS BIGINT) AS keep_id,
        |       CAST(count(*) AS BIGINT) AS n_members
        |FROM d GROUP BY 1""".stripMargin)),

    // text quality features (all exact integer ratios)
    Qry("q27_text_quality",
      (s, dir) => {
        val feats = TextOps.qualityFeatures(col("text"))
        spread(s, t(s, dir, "documents")).select(col("doc_id") +: feats.map { case (n, c) => c.as(n) }: _*)
      },
      Some(s"""WITH d AS (SELECT doc_id, $normSql AS norm, $toksSql AS tk FROM documents)
        |SELECT doc_id, len(tk) AS n_tokens, length(norm) AS n_chars_norm,
        |  round(CAST(len(list_filter(tk, x -> list_contains(
        |    ['the','a','of','and','is','to','in','it','that','on'], x))) AS DOUBLE)
        |    / len(tk), 6) AS stopword_ratio,
        |  round(CAST(length(regexp_replace(norm, '[^a-z]', '', 'g')) AS DOUBLE)
        |    / length(norm), 6) AS alpha_ratio,
        |  round(CAST(length(norm) - (len(tk) - 1) AS DOUBLE) / len(tk), 6) AS avg_token_len
        |FROM d""".stripMargin)),

    // n-gram Jaccard near-dup scores between adjacent doc pairs
    Qry("q28_shingle_jaccard",
      (s, dir) => {
        val d = spread(s, t(s, dir, "documents"))
          .select(col("doc_id"), TextOps.shingles(TextOps.tokens(col("text")), 3).as("sh"))
          .cache() // shingling feeds both join sides — compute once
        val a = d.select(col("doc_id").as("id_a"), col("sh").as("sha"))
        val b = d.select((col("doc_id") - 1).as("id_a"), col("doc_id").as("id_b"),
          col("sh").as("shb"))
        a.join(b, Seq("id_a"))
          .select(col("id_a"), col("id_b"),
            round(TextOps.jaccard(col("sha"), col("shb")), 6).as("jacc"))
      },
      Some(s"""WITH d AS (SELECT doc_id, $toksSql AS tk FROM documents),
        |sh AS (SELECT doc_id, list_distinct(${shinglesSql("tk")}) AS s FROM d)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  round(CASE WHEN len(list_distinct(a.s || b.s)) = 0 THEN 0.0
        |    ELSE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
        |         / len(list_distinct(a.s || b.s)) END, 6) AS jacc
        |FROM sh a JOIN sh b ON b.doc_id = a.doc_id + 1""".stripMargin)),

    // MinHash → LSH bands → chain candidates → Jaccard-verified per-doc
    // DROP-LIST: each doc that near-duplicates an earlier doc reports the
    // minimum such `dup_of` plus that pair's verified similarity.
    //
    // Contract note (VERDICT r8 #1): through r8 this query emitted EVERY
    // verified pair, a contract quadratic in near-dup cluster width that
    // could not run at 100× rows (378.8M candidates — no cap can fix an
    // output bound). The dedup DELIVERABLE — which docs to drop, and for
    // which earlier doc — is linear (≤ 1 row per doc), so the query now
    // emits exactly that, over sorted-neighborhood chain candidates
    // ([[chainScoredPairs]], neighborWidth=3 — the same structural
    // per-doc bound the labels build and q153 use). Pair-level outputs
    // live in the bounded twin q177 (top-k per anchor); cluster
    // recovery in q72/ClusterLabels. The oracle mirrors chain, hashed
    // verify and min aggregation exactly.
    Qry("q29_minhash_lsh_dedup",
      (s, dir) => chainScoredPairs(s, dir)
        .groupBy(col("id_b").as("doc_id"))
        .agg(min("id_a").as("dup_of"), expr("min_by(jacc, id_a)").as("jacc")),
      Some(s"""$chainScoredSql
        |SELECT id_b AS doc_id, min(id_a) AS dup_of, arg_min(jacc, id_a) AS jacc
        |FROM scored WHERE jacc >= 0.5 GROUP BY 1""".stripMargin)),

    // The BOUNDED pair-level twin of q29 — the per-pair report a corpus
    // pipeline keeps alongside the drop-list. Both terms linear by
    // construction: candidates are sorted-neighborhood CHAINS inside
    // each LSH band (neighborWidth=3 — ≤3·members per band, one lead
    // window, no self-join) and emission is the top-10 verified matches
    // per anchor doc (jacc DESC, id_b — deterministic). Same machinery
    // and 0.5 verify threshold as q29 ([[chainScoredPairs]]); the
    // oracle mirrors chain, hashed verify and rank exactly.
    Qry("q177_lsh_chain_topk",
      (s, dir) => chainScoredPairs(s, dir)
        .withColumn("rk", row_number().over(
          Window.partitionBy("id_a").orderBy(col("jacc").desc, col("id_b"))))
        .filter(col("rk") <= 10)
        .select("id_a", "id_b", "jacc"),
      Some(s"""$chainScoredSql,
        |ranked AS (SELECT id_a, id_b, jacc, row_number() OVER (
        |      PARTITION BY id_a ORDER BY jacc DESC, id_b) AS rk
        |  FROM scored WHERE jacc >= 0.5)
        |SELECT id_a, id_b, jacc FROM ranked WHERE rk <= 10""".stripMargin)),

    // arrival-ordered near-dup detection with bounded per-band state
    // ([[graft.ops.Dedup.arrivalChainScoredDups]]) — each doc scored
    // (signature agreement, matches/16) against the 3 MOST RECENT prior
    // arrivals in each of its LSH bands, reporting the min matched
    // earlier id. Arrival rank is doc_id (monotone in the ingest model's
    // event time).
    Qry("q178_stream_neardup_twin",
      (s, dir) => {
        val d = docsWithDups(s, dir)
          .select(col("doc_id"),
            TextOps.shingles(TextOps.tokens(col("text")), 3).as("sh"))
          .filter(size(col("sh")) > 0)
        graft.ops.Dedup.arrivalChainScoredDups(d)
      },
      Some({
        val (as, bs) = TextOps.minhashParams(16)
        val aArr = as.mkString("[", ",", "]")
        val bArr = bs.mkString("[", ",", "]")
        s"""WITH d0 AS ($docsWithDupsSql),
        |d AS (SELECT doc_id, ${shinglesSql(toksSql)} AS sh FROM d0),
        |docs AS (SELECT doc_id, sh FROM d WHERE len(sh) > 0),
        |bases AS (SELECT doc_id,
        |    list_transform(sh, s -> ${h64("s")} % ${TextOps.minhashM}) AS hs FROM docs),
        |sigs AS (SELECT doc_id,
        |    list_transform(range(0, 16), i -> list_min(list_transform(hs,
        |      h -> (h * ($aArr)[i + 1] + ($bArr)[i + 1]) % ${TextOps.minhashM}))) AS sig
        |  FROM bases),
        |keys AS (SELECT doc_id, sig, unnest(list_transform(range(0, 8),
        |    b -> CAST(b AS VARCHAR) || ':' || md5(array_to_string(
        |           sig[b * 2 + 1 : b * 2 + 2], ',')))) AS band_key
        |  FROM sigs),
        |lagged AS (SELECT doc_id, sig,
        |    [lag(doc_id, 1) OVER wd, lag(doc_id, 2) OVER wd,
        |     lag(doc_id, 3) OVER wd] AS oids,
        |    [lag(sig, 1) OVER wd, lag(sig, 2) OVER wd,
        |     lag(sig, 3) OVER wd] AS osigs
        |  FROM keys WINDOW wd AS (PARTITION BY band_key ORDER BY doc_id)),
        |cand AS (SELECT doc_id, oids[j + 1] AS other_id,
        |    len(list_filter(range(0, 16),
        |      i -> sig[i + 1] = (osigs[j + 1])[i + 1])) / 16.0 AS est
        |  FROM lagged, (SELECT unnest(range(0, 3)) AS j)
        |  WHERE oids[j + 1] IS NOT NULL)
        |SELECT doc_id, min(other_id) AS dup_of,
        |  round(arg_min(est, other_id), 6) AS est6
        |FROM cand WHERE est >= 0.5 GROUP BY 1""".stripMargin
      })),

    // SimHash fingerprints (32-bit) — near-dups land at small Hamming dist
    Qry("q30_simhash",
      (s, dir) => spread(s, t(s, dir, "documents")).select(col("doc_id"),
        TextOps.simhash(TextOps.tokens(col("text")), 32).as("simhash")),
      Some(s"""WITH d AS (SELECT doc_id, list_distinct($toksSql) AS dt FROM documents),
        |h AS (SELECT doc_id, list_transform(dt, x -> ${h64("x")}) AS hs FROM d)
        |SELECT doc_id,
        |  CAST(list_sum(list_transform(range(0, 32), j ->
        |    CASE WHEN list_sum(list_transform(hs, h -> ((h >> j) & 1) * 2 - 1)) > 0
        |         THEN 1::BIGINT << j ELSE 0 END)) AS BIGINT) AS simhash
        |FROM h""".stripMargin)),

    // marker-based language-ID (argmax with deterministic tie-break)
    Qry("q31_lang_id",
      (s, dir) => spread(s, t(s, dir, "documents")).select(col("doc_id"), col("lang"),
        TextOps.langId(TextOps.tokens(col("text"))).as("lang_pred")),
      Some({
        val scores = TextOps.langMarkers.map { case (lang, ms) =>
          s"len(list_intersect(dt, [${ms.map(m => s"'$m'").mkString(",")}])) AS s_$lang"
        }.mkString(",\n  ")
        s"""WITH d AS (SELECT doc_id, lang, list_distinct($toksSql) AS dt FROM documents),
          |sc AS (SELECT doc_id, lang, $scores FROM d)
          |SELECT doc_id, lang,
          |  CASE WHEN s_zh > greatest(s_de, s_en, s_es, s_fr) THEN 'zh'
          |       WHEN s_fr > greatest(s_de, s_en, s_es) THEN 'fr'
          |       WHEN s_es > greatest(s_de, s_en) THEN 'es'
          |       WHEN s_en > s_de THEN 'en'
          |       ELSE 'de' END AS lang_pred
          |FROM sc""".stripMargin
      })),

    // rolling polynomial fingerprint over token hashes (exact modular math)
    Qry("q32_fingerprint",
      (s, dir) => {
        val M = 1000000007L
        val hashed = transform(TextOps.tokens(col("text")),
          x => pmod(TextOps.hash64(x), lit(M)))
        spread(s, t(s, dir, "documents")).select(col("doc_id"),
          aggregate(hashed, lit(0L), (acc, x) => (acc * 31 + x) % M).as("fingerprint"))
      },
      Some(s"""WITH d AS (SELECT doc_id,
        |  list_transform($toksSql, x -> ${h64("x")} % 1000000007) AS hs FROM documents)
        |SELECT doc_id,
        |  CAST(list_reduce(list_prepend(0::BIGINT, hs),
        |    (acc, x) -> (acc * 31 + x) % 1000000007) AS BIGINT) AS fingerprint
        |FROM d""".stripMargin)),

    // token counting: whitespace words AND a BPE-ish regex segmentation
    // (contractions / letter runs / digit runs / punctuation runs — the
    // GPT-2 pre-tokenizer shape) — both pure per-row expressions
    Qry("q44_token_counts",
      (s, dir) => {
        val bpeish = "'(?:s|t|re|ve|m|ll|d)| ?[a-z]+| ?[0-9]+| ?[^\\sa-z0-9]+"
        spread(s, t(s, dir, "documents")).select(col("doc_id"),
          size(TextOps.tokens(col("text"))).as("n_ws_tokens"),
          size(regexp_extract_all(TextOps.normText(col("text")), lit(bpeish), lit(0)))
            .as("n_bpe_tokens"))
      },
      Some(s"""SELECT doc_id, len($toksSql) AS n_ws_tokens,
        |  len(regexp_extract_all($normSql,
        |    '''(?:s|t|re|ve|m|ll|d)| ?[a-z]+| ?[0-9]+| ?[^\\s a-z0-9]+')) AS n_bpe_tokens
        |FROM documents""".stripMargin)),

    // exact brute-force cosine top-k (ANN ground truth)
    Qry("q33_cosine_topk",
      (s, dir) => {
        val e = spread(s, t(s, dir, "embeddings")).select(col("vec_id").as("id"), col("embedding").as("vec"))
        VectorOps.bruteForceTopK(e.filter(col("id") < 10), e, 5)
          .select("query_id", "neighbor_id", "rank")
      },
      Some("""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 10),
        |p AS (SELECT query_id, e.vec_id AS neighbor_id,
        |    list_sum(list_transform(range(1, len(qv) + 1), i -> qv[i] * e.v[i]))
        |      / (sqrt(list_sum(list_transform(qv, x -> x * x)))
        |         * sqrt(list_sum(list_transform(e.v, x -> x * x)))) AS cos
        |  FROM q, e WHERE e.vec_id <> query_id)
        |SELECT query_id, neighbor_id,
        |       CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS INT) AS rank
        |FROM p QUALIFY rank <= 5""".stripMargin)),

    // SRP-LSH bucketing — the scale path for ANN candidate generation
    Qry("q34_srp_buckets",
      (s, dir) => spread(s, t(s, dir, "embeddings")).select(col("vec_id"),
        VectorOps.srpBucket(col("embedding"), 8).as("bucket")),
      Some({
        val plane = (p: String, i: String) =>
          s"(('0x' || substr(md5($p || '|' || $i), 1, 12))::BIGINT / 140737488355328.0 - 1.0)"
        s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
          |  FROM embeddings)
          |SELECT vec_id, CAST(list_sum(list_transform(range(0, 8), p ->
          |    CASE WHEN list_sum(list_transform(range(1, len(v) + 1),
          |           i -> v[i] * ${plane("CAST(p AS VARCHAR)", "CAST(i - 1 AS VARCHAR)")})) > 0
          |         THEN 1::BIGINT << p ELSE 0 END)) AS BIGINT) AS bucket
          |FROM e""".stripMargin
      })),

    // ANN over SRP buckets, re-contracted linear (VERDICT r9 #1): through
    // r9 this query emitted EVERY in-bucket pair over ONE 6-plane table
    // with the hot-bucket cap deliberately disabled — Θ(n²/64) candidates
    // (348M at 100× rows, 35B at 1000×), the last uncapped quadratic
    // contract in the registry. The ANN DELIVERABLE — each vector's best
    // bucket-cohabitant neighbors — is linear (≤ k rows per vector), so
    // the query now emits exactly that, over MULTI-TABLE SRP chain
    // candidates ([[VectorOps.srpChainPairs]]: 4 independent 12-plane
    // tables for recall, each vector paired with its 8 chain successors
    // per table-bucket — ≤ 32·n candidates at ANY scale or skew). Exact
    // cosine on every candidate, threshold 0.1, top-10 per anchor
    // (cos DESC, neighbor ASC — deterministic). The oracle mirrors
    // tables, chain window, rounding and rank exactly; uncapped
    // all-pairs ground truth survives at small sf as q54's cap-semantics
    // proof and the ANN recall contracts (q45/q165).
    Qry("q35_ann_srp_topk",
      (s, dir) => {
        val p = VectorOps.srpChainPairs(
            spread(s, t(s, dir, "embeddings"))
              .select(col("vec_id").as("id"), col("embedding").as("vec")),
            tables = 4, planesPerTable = 12, neighborWidth = 8)
          .select(col("id_a"), col("id_b"), round(col("cos"), 6).as("cos"))
          .filter(col("cos") >= 0.1)
        val sym = p.unionByName(p.select(col("id_b").as("id_a"),
          col("id_a").as("id_b"), col("cos")))
        sym.withColumn("rank", row_number().over(
            Window.partitionBy("id_a").orderBy(col("cos").desc, col("id_b")))
            .cast("int"))
          .filter(col("rank") <= 10)
          .select(col("id_a").as("vec_id"), col("id_b").as("neighbor_id"),
            col("cos"), col("rank"))
      },
      Some({
        val plane = (p: String, i: String) =>
          s"(('0x' || substr(md5($p || '|' || $i), 1, 12))::BIGINT / 140737488355328.0 - 1.0)"
        val leads = (1 to 8).map(j => s"lead(vec_id, $j) OVER wd").mkString(",\n          |     ")
        s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
          |  FROM embeddings),
          |k AS (SELECT vec_id, CAST(t.t AS VARCHAR) || ':' ||
          |    CAST(CAST(list_sum(list_transform(range(0, 12), j ->
          |      CASE WHEN list_sum(list_transform(range(1, len(v) + 1),
          |             i -> v[i] * ${plane("CAST(t.t * 12 + j AS VARCHAR)", "CAST(i - 1 AS VARCHAR)")})) > 0
          |           THEN 1::BIGINT << j ELSE 0 END)) AS BIGINT) AS VARCHAR) AS band_key
          |  FROM e, unnest(range(0, 4)) AS t(t)),
          |c0 AS (SELECT vec_id,
          |    [$leads] AS nxt
          |  FROM k WINDOW wd AS (PARTITION BY band_key ORDER BY vec_id)),
          |cand AS (SELECT DISTINCT id_a, id_b FROM (
          |    SELECT vec_id AS id_a, unnest(nxt) AS id_b FROM c0)
          |  WHERE id_b IS NOT NULL),
          |scored AS (SELECT id_a, id_b,
          |    round(list_sum(list_transform(range(1, len(a.v) + 1), i -> a.v[i] * b2.v[i]))
          |      / (sqrt(list_sum(list_transform(a.v, x -> x * x)))
          |         * sqrt(list_sum(list_transform(b2.v, x -> x * x)))), 6) AS cos
          |  FROM cand JOIN e a ON a.vec_id = id_a JOIN e b2 ON b2.vec_id = id_b
          |  WHERE cos >= 0.1),
          |sym AS (SELECT id_a AS vec_id, id_b AS neighbor_id, cos FROM scored
          |  UNION ALL SELECT id_b, id_a, cos FROM scored)
          |SELECT vec_id, neighbor_id, cos, CAST(row_number() OVER (
          |    PARTITION BY vec_id ORDER BY cos DESC, neighbor_id) AS INT) AS rank
          |FROM sym QUALIFY rank <= 10""".stripMargin
      })),

    // per-vector norms — embedding hygiene stats
    Qry("q36_embedding_norms",
      (s, dir) => spread(s, t(s, dir, "embeddings")).select(col("vec_id"),
        size(col("embedding")).as("dim"),
        round(VectorOps.norm(col("embedding")), 6).as("l2_norm")),
      Some("""SELECT vec_id, len(embedding) AS dim,
        |  round(sqrt(list_sum(list_transform(embedding,
        |    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 6) AS l2_norm
        |FROM embeddings""".stripMargin)),

    // corpus rollup per language (exact long sums, explicit double division)
    Qry("q37_corpus_stats",
      (s, dir) => t(s, dir, "documents").groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("sum_chars"))
        .withColumn("avg_chars", round(col("sum_chars").cast("double") / col("n_docs"), 6)),
      Some("""SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  round(CAST(sum(n_chars) AS DOUBLE) / count(*), 6) AS avg_chars
        |FROM documents GROUP BY lang""".stripMargin)),

    // multimodal: opaque binary payload + typed metadata extraction
    Qry("q38_multimodal_meta",
      (s, dir) => t(s, dir, "documents")
        .select(col("doc_id"), col("text").cast("binary").as("payload"))
        .select(col("doc_id"),
          length(col("payload")).as("n_bytes"),
          hex(substring(col("payload"), 1, 4)).as("magic"),
          (pmod(TextOps.hash64(col("payload").cast("string")), lit(1024)) + 1)
            .cast("int").as("fake_width"),
          (pmod(TextOps.hash64(concat(col("payload").cast("string"), lit("|h"))), lit(1024)) + 1)
            .cast("int").as("fake_height")),
      Some(s"""SELECT doc_id, octet_length(encode(text)) AS n_bytes,
        |  upper(hex(encode(substr(text, 1, 4)))) AS magic,
        |  CAST(${h64("text")} % 1024 + 1 AS INT) AS fake_width,
        |  CAST(${h64("text || '|h'")} % 1024 + 1 AS INT) AS fake_height
        |FROM documents""".stripMargin)),

    // tumbling-window aggregation: hourly event counts and value sums per
    // event type
    Qry("q39_tumbling_window",
      (s, dir) => {
        val ev = events(s, dir)
        ev.withColumn("cents", round(col("value") * 100, 0).cast("long"))
          .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
          .agg(count(lit(1)).as("n"), sum("cents").as("sum_cents"))
          .select(date_format(col("w.start"), "yyyy-MM-dd HH:mm").as("window_start"),
            col("event_type"), col("n"), col("sum_cents"))
      },
      Some("""SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M') AS window_start,
        |  event_type, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
        |FROM events GROUP BY 1, 2""".stripMargin)),

    // IVF-flat ANN: deterministic sampled codebook, nprobe-bounded search
    Qry("q45_ivf_topk",
      (s, dir) => {
        val e = spread(s, t(s, dir, "embeddings"))
          .select(col("vec_id").as("id"), col("embedding").as("vec"))
        VectorOps.ivfSearch(e.filter(col("id") < 10), e,
          nCentroids = 32, nprobe = 8, k = 5)
          .select("query_id", "neighbor_id", "rank")
      },
      Some("""WITH e AS (SELECT vec_id AS id,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
        |cents AS (SELECT id AS centroid_id, v AS cvec FROM e
        |  ORDER BY md5('7|' || CAST(id AS VARCHAR)), id LIMIT 32),
        |assigned AS (
        |  SELECT e.id, e.v, c.centroid_id FROM e CROSS JOIN cents c
        |  QUALIFY row_number() OVER (PARTITION BY e.id ORDER BY
        |    (list_sum(list_transform(range(1, len(e.v) + 1), i -> e.v[i] * c.cvec[i]))
        |     / (sqrt(list_sum(list_transform(e.v, x -> x * x)))
        |        * sqrt(list_sum(list_transform(c.cvec, x -> x * x))))) DESC,
        |    c.centroid_id) = 1),
        |q AS (SELECT id AS query_id, v AS qv FROM e WHERE id < 10),
        |probes AS (
        |  SELECT q.query_id, q.qv, c.centroid_id FROM q CROSS JOIN cents c
        |  QUALIFY row_number() OVER (PARTITION BY q.query_id ORDER BY
        |    (list_sum(list_transform(range(1, len(q.qv) + 1), i -> q.qv[i] * c.cvec[i]))
        |     / (sqrt(list_sum(list_transform(q.qv, x -> x * x)))
        |        * sqrt(list_sum(list_transform(c.cvec, x -> x * x))))) DESC,
        |    c.centroid_id) <= 8),
        |p AS (
        |  SELECT p.query_id, a.id AS neighbor_id,
        |    (list_sum(list_transform(range(1, len(p.qv) + 1), i -> p.qv[i] * a.v[i]))
        |     / (sqrt(list_sum(list_transform(p.qv, x -> x * x)))
        |        * sqrt(list_sum(list_transform(a.v, x -> x * x))))) AS cos
        |  FROM probes p JOIN assigned a USING (centroid_id)
        |  WHERE a.id <> p.query_id)
        |SELECT query_id, neighbor_id,
        |  CAST(row_number() OVER (PARTITION BY query_id
        |    ORDER BY cos DESC, neighbor_id) AS INT) AS rank
        |FROM p QUALIFY rank <= 5""".stripMargin)),

    // the CAPPED LSH pair operator — the library's hot-bucket guard
    // (VectorOps.lshCandidatePairs default skew protection) exercised with
    // a cap that actually bites at this sf (12 < the 15-row top buckets),
    // and an oracle that reproduces the cap as a bucket-count HAVING join.
    // This row proves the guard's semantics are exact, not just "drops
    // something" (q35's all-pairs ground truth retired with its r10
    // re-contract to chain-bounded top-k).
    Qry("q54_ann_lsh_capped",
      (s, dir) => VectorOps.lshCandidatePairs(
        spread(s, t(s, dir, "embeddings")).select(col("vec_id").as("id"), col("embedding").as("vec")),
        6, 0.1, maxBucketSize = 12),
      Some({
        val plane = (p: String, i: String) =>
          s"(('0x' || substr(md5($p || '|' || $i), 1, 12))::BIGINT / 140737488355328.0 - 1.0)"
        s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
          |  FROM embeddings),
          |b AS (SELECT vec_id, v, CAST(list_sum(list_transform(range(0, 6), p ->
          |    CASE WHEN list_sum(list_transform(range(1, len(v) + 1),
          |           i -> v[i] * ${plane("CAST(p AS VARCHAR)", "CAST(i - 1 AS VARCHAR)")})) > 0
          |         THEN 1::BIGINT << p ELSE 0 END)) AS BIGINT) AS bucket FROM e),
          |ok AS (SELECT bucket FROM b GROUP BY bucket HAVING count(*) <= 12),
          |pairs AS (SELECT a.vec_id AS id_a, b2.vec_id AS id_b,
          |    list_sum(list_transform(range(1, len(a.v) + 1), i -> a.v[i] * b2.v[i]))
          |      / (sqrt(list_sum(list_transform(a.v, x -> x * x)))
          |         * sqrt(list_sum(list_transform(b2.v, x -> x * x)))) AS cos
          |  FROM b a JOIN b b2 ON a.bucket = b2.bucket AND a.vec_id < b2.vec_id
          |  JOIN ok ON ok.bucket = a.bucket)
          |SELECT id_a, id_b, round(cos, 6) AS cos FROM pairs WHERE cos >= 0.1""".stripMargin
      })),

    // SimHash + Hamming distance: each injected near-dup / verbatim-dup doc
    // paired with its original; the mutated (+10000) twins land at small
    // but non-zero distance, verbatim (+20000) twins at exactly 0
    Qry("q55_simhash_hamming",
      (s, dir) => {
        val sims = docsWithDups(s, dir)
          .select(col("doc_id"), TextOps.simhash(TextOps.tokens(col("text")), 32).as("sim"))
          .cache() // feeds both sides of the pair join — compute once
        val dups = sims.filter(col("doc_id") >= 10000)
          .select(when(col("doc_id") >= 20000, col("doc_id") - 20000)
              .otherwise(col("doc_id") - 10000).as("id_a"),
            col("doc_id").as("id_b"), col("sim").as("sim_b"))
        sims.select(col("doc_id").as("id_a"), col("sim").as("sim_a"))
          .join(dups, Seq("id_a"))
          .select(col("id_a"), col("id_b"),
            TextOps.hamming(col("sim_a"), col("sim_b"), 32).as("dist"))
      },
      Some(s"""WITH d0 AS ($docsWithDupsSql),
        |d AS (SELECT doc_id, list_distinct($toksSql) AS dt FROM d0),
        |h AS (SELECT doc_id, list_transform(dt, x -> ${h64("x")}) AS hs FROM d),
        |sims AS (SELECT doc_id,
        |  CAST(list_sum(list_transform(range(0, 32), j ->
        |    CASE WHEN list_sum(list_transform(hs, h -> ((h >> j) & 1) * 2 - 1)) > 0
        |         THEN 1::BIGINT << j ELSE 0 END)) AS BIGINT) AS sim
        |  FROM h),
        |pairs AS (SELECT CASE WHEN doc_id >= 20000 THEN doc_id - 20000
        |         ELSE doc_id - 10000 END AS id_a,
        |       doc_id AS id_b, sim AS sim_b
        |  FROM sims WHERE doc_id >= 10000)
        |SELECT p.id_a, p.id_b,
        |  CAST(list_sum(list_transform(range(0, 32),
        |    j -> (xor(a.sim, p.sim_b) >> j) & 1)) AS BIGINT) AS dist
        |FROM pairs p JOIN sims a ON a.doc_id = p.id_a""".stripMargin)),

    // IVF top-k via the typed TopKAgg aggregator — identical results to
    // q45's window formulation (same oracle), but the bounded buffer
    // merges map-side so the final shuffle carries ≤ k entries per
    // (partition, query) instead of every probed candidate
    Qry("q56_ivf_topk_agg",
      (s, dir) => {
        val e = spread(s, t(s, dir, "embeddings"))
          .select(col("vec_id").as("id"), col("embedding").as("vec"))
        VectorOps.ivfSearchAgg(e.filter(col("id") < 10), e,
          nCentroids = 32, nprobe = 8, k = 5)
      },
      Some("""WITH e AS (SELECT vec_id AS id,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
        |cents AS (SELECT id AS centroid_id, v AS cvec FROM e
        |  ORDER BY md5('7|' || CAST(id AS VARCHAR)), id LIMIT 32),
        |assigned AS (
        |  SELECT e.id, e.v, c.centroid_id FROM e CROSS JOIN cents c
        |  QUALIFY row_number() OVER (PARTITION BY e.id ORDER BY
        |    (list_sum(list_transform(range(1, len(e.v) + 1), i -> e.v[i] * c.cvec[i]))
        |     / (sqrt(list_sum(list_transform(e.v, x -> x * x)))
        |        * sqrt(list_sum(list_transform(c.cvec, x -> x * x))))) DESC,
        |    c.centroid_id) = 1),
        |q AS (SELECT id AS query_id, v AS qv FROM e WHERE id < 10),
        |probes AS (
        |  SELECT q.query_id, q.qv, c.centroid_id FROM q CROSS JOIN cents c
        |  QUALIFY row_number() OVER (PARTITION BY q.query_id ORDER BY
        |    (list_sum(list_transform(range(1, len(q.qv) + 1), i -> q.qv[i] * c.cvec[i]))
        |     / (sqrt(list_sum(list_transform(q.qv, x -> x * x)))
        |        * sqrt(list_sum(list_transform(c.cvec, x -> x * x))))) DESC,
        |    c.centroid_id) <= 8),
        |p AS (
        |  SELECT p.query_id, a.id AS neighbor_id,
        |    (list_sum(list_transform(range(1, len(p.qv) + 1), i -> p.qv[i] * a.v[i]))
        |     / (sqrt(list_sum(list_transform(p.qv, x -> x * x)))
        |        * sqrt(list_sum(list_transform(a.v, x -> x * x))))) AS cos
        |  FROM probes p JOIN assigned a USING (centroid_id)
        |  WHERE a.id <> p.query_id)
        |SELECT query_id, neighbor_id,
        |  CAST(row_number() OVER (PARTITION BY query_id
        |    ORDER BY cos DESC, neighbor_id) AS INT) AS rank
        |FROM p QUALIFY rank <= 5""".stripMargin)),

    // THE CURATION FLAGSHIP — the composed training-corpus pipeline every
    // 100 TB text run needs: language filter → quality gate → exact dedup
    // (keep smallest id per content hash) → MinHash-LSH near-dup removal
    // (greedy: drop the larger id of every verified pair) → kept set.
    // Each stage is an already-oracle-proven operator (q31, q27, q26, q29);
    // this row proves the COMPOSITION end-to-end against DuckDB.
    Qry("q57_corpus_curation",
      (s, dir) => {
        // tokenize ONCE into a cached column: n_tokens, langId, the exact-
        // dedup hash and the shingles all derive from `tk` — without this
        // the regex+split chain runs 4× per doc
        val d = docsWithDups(s, dir)
          .withColumn("tk", TextOps.tokens(col("text")))
          .withColumn("n_tokens", size(col("tk")))
          .filter(col("n_tokens") >= 20 &&
            TextOps.langId(col("tk")) === "en")
          .select(col("doc_id"), col("n_tokens"),
            md5(concat_ws(" ", col("tk"))).as("h"),
            TextOps.shingles(col("tk"), 3).as("sh"))
          .cache()
        val keepIds = d.groupBy(col("h"))
          .agg(min("doc_id").as("doc_id")).select("doc_id")
        val kept = d.select("doc_id", "n_tokens", "sh")
          .join(keepIds, Seq("doc_id"), "left_semi")
          .cache()
        // sorted-neighborhood chain (neighborWidth = 3): per-band
        // candidates are LINEAR by construction — the structural bound a
        // drop-list needs at corpus scale, where r7's telemetry showed
        // band caps never engaging on dup-dense growth (VERDICT r7 #1).
        // The oracle's cand CTE computes the same chain; its string-set
        // verify equals the engine's hashed-set verify
        // (Dedup.chainVerifiedEdges — the gate is a filter, no value).
        val drop = Dedup.chainVerifiedEdges(kept.select("doc_id", "sh"))
          .select(col("dst").as("doc_id")).distinct()
        kept.join(drop, Seq("doc_id"), "left_anti").select("doc_id", "n_tokens")
      },
      Some({
        val (as, bs) = TextOps.minhashParams(16)
        val aArr = as.mkString("[", ",", "]")
        val bArr = bs.mkString("[", ",", "]")
        val scores = TextOps.langMarkers.map { case (lang, ms) =>
          s"len(list_intersect(dt, [${ms.map(m => s"'$m'").mkString(",")}])) AS s_$lang"
        }.mkString(", ")
        s"""WITH d0 AS ($docsWithDupsSql),
        |f AS (SELECT doc_id, text, $toksSql AS tk FROM d0),
        |sc AS (SELECT doc_id, text, tk, len(tk) AS n_tokens,
        |         list_distinct(tk) AS dt FROM f),
        |lp AS (SELECT doc_id, text, tk, n_tokens, $scores FROM sc),
        |keep0 AS (SELECT doc_id, text, tk, n_tokens FROM lp
        |  WHERE n_tokens >= 20 AND
        |    (CASE WHEN s_zh > greatest(s_de, s_en, s_es, s_fr) THEN 'zh'
        |          WHEN s_fr > greatest(s_de, s_en, s_es) THEN 'fr'
        |          WHEN s_es > greatest(s_de, s_en) THEN 'es'
        |          WHEN s_en > s_de THEN 'en'
        |          ELSE 'de' END) = 'en'),
        |exact AS (SELECT md5($normSql) AS h, min(doc_id) AS doc_id
        |  FROM keep0 GROUP BY 1),
        |kept AS (SELECT k.doc_id, k.n_tokens, ${shinglesSql("k.tk")} AS sh
        |  FROM keep0 k JOIN exact e ON k.doc_id = e.doc_id),
        |bases AS (SELECT doc_id, sh,
        |    list_transform(sh, s -> ${h64("s")} % ${TextOps.minhashM}) AS hs FROM kept),
        |sigs AS (SELECT doc_id, sh,
        |    list_transform(range(0, 16), i -> list_min(list_transform(hs,
        |      h -> (h * ($aArr)[i + 1] + ($bArr)[i + 1]) % ${TextOps.minhashM}))) AS sig
        |  FROM bases),
        |keys AS (SELECT doc_id, unnest(list_transform(range(0, 8),
        |    b -> CAST(b AS VARCHAR) || ':' || md5(array_to_string(
        |           sig[b * 2 + 1 : b * 2 + 2], ',')))) AS band_key
        |  FROM sigs),
        |c0 AS (SELECT doc_id,
        |    [lead(doc_id, 1) OVER wd, lead(doc_id, 2) OVER wd,
        |     lead(doc_id, 3) OVER wd] AS nxt
        |  FROM keys WINDOW wd AS (PARTITION BY band_key ORDER BY doc_id)),
        |cand AS (SELECT DISTINCT id_a, id_b FROM (
        |    SELECT doc_id AS id_a, unnest(nxt) AS id_b FROM c0)
        |  WHERE id_b IS NOT NULL),
        |drop0 AS (SELECT DISTINCT id_b FROM cand
        |  JOIN kept da ON da.doc_id = id_a JOIN kept db ON db.doc_id = id_b
        |  WHERE (CASE WHEN len(list_distinct(da.sh || db.sh)) = 0 THEN 0.0
        |    ELSE CAST(len(list_intersect(list_distinct(da.sh), list_distinct(db.sh))) AS DOUBLE)
        |         / len(list_distinct(da.sh || db.sh)) END) >= 0.5)
        |SELECT doc_id, n_tokens FROM kept
        |WHERE doc_id NOT IN (SELECT id_b FROM drop0)""".stripMargin
      })),

    // stratified per-language sampling — "N docs per stratum", the
    // balanced-corpus primitive; seeded-md5 rank so any engine reproduces
    // the sample (the distributed ORDER BY RANDOM() LIMIT N per group)
    Qry("q58_stratified_sample",
      (s, dir) => {
        val w = Window.partitionBy("lang")
          .orderBy(md5(concat(lit("11|"), col("doc_id").cast("string"))), col("doc_id"))
        spread(s, t(s, dir, "documents"))
          .withColumn("rn", row_number().over(w)).filter(col("rn") <= 50)
          .select(col("doc_id"), col("lang"))
      },
      Some("""SELECT doc_id, lang FROM documents
        |QUALIFY row_number() OVER (PARTITION BY lang
        |  ORDER BY md5('11|' || CAST(doc_id AS VARCHAR)), doc_id) <= 50""".stripMargin)),

    // shard-local token packing: documents greedily packed into fixed
    // token-budget bins (context windows) per shard — a running-sum window
    // WITHIN each shard (lang here), never a global single-partition sort,
    // which is what keeps the op linear at 100 TB
    Qry("q59_token_packing",
      (s, dir) => {
        val w = Window.partitionBy("lang").orderBy("doc_id")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        spread(s, t(s, dir, "documents"))
          .select(col("doc_id"), col("lang"),
            size(TextOps.tokens(col("text"))).as("n_tokens"))
          .withColumn("bin",
            floor((sum("n_tokens").over(w) - col("n_tokens")) / 4096.0).cast("long"))
      },
      Some(s"""WITH d AS (SELECT doc_id, lang, len($toksSql) AS n_tokens FROM documents)
        |SELECT doc_id, lang, n_tokens,
        |  CAST(floor((sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
        |    ROWS UNBOUNDED PRECEDING) - n_tokens) / 4096.0) AS BIGINT) AS bin
        |FROM d""".stripMargin)),

    // benchmark decontamination: corpus docs sharing any 8-gram with a
    // benchmark set. Shingles are hashed to 60-bit ints BEFORE the join so
    // the shuffle carries slim longs, not strings — the shape that holds
    // when the corpus is 100 TB and the benchmark side broadcasts.
    // Every %50 original is "benchmark"; its injected near-dup twins in
    // the corpus (+10000/+20000) surface as hits.
    Qry("q60_decontamination",
      (s, dir) => {
        val ex = docsWithDups(s, dir)
          .select(col("doc_id"), explode(array_distinct(
            TextOps.shingles(TextOps.tokens(col("text")), 8))).as("sh1"))
          .select(col("doc_id"), TextOps.hash64(col("sh1")).as("h"))
        val isBench = col("doc_id") < 10000 && col("doc_id") % 50 === 0
        val benchSh = ex.filter(isBench).select("h").distinct()
        ex.filter(!isBench)
          .join(benchSh, Seq("h"), "left_semi")
          .groupBy("doc_id").agg(count(lit(1)).as("n_hits"))
      },
      Some(s"""WITH d0 AS ($docsWithDupsSql),
        |tk AS (SELECT doc_id, $toksSql AS t FROM d0),
        |sh AS (SELECT doc_id, unnest(list_distinct(
        |    CASE WHEN len(t) >= 8
        |      THEN list_transform(range(0, len(t) - 7),
        |             i -> t[i + 1] || ' ' || t[i + 2] || ' ' || t[i + 3] || ' ' ||
        |                  t[i + 4] || ' ' || t[i + 5] || ' ' || t[i + 6] || ' ' ||
        |                  t[i + 7] || ' ' || t[i + 8])
        |      ELSE [] END)) AS s1
        |  FROM tk),
        |hs AS (SELECT doc_id, ${h64("s1")} AS h FROM sh),
        |bench AS (SELECT DISTINCT h FROM hs WHERE doc_id < 10000 AND doc_id % 50 = 0)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_hits
        |FROM hs JOIN bench USING (h)
        |WHERE NOT (doc_id < 10000 AND doc_id % 50 = 0)
        |GROUP BY doc_id""".stripMargin)),

    // near-dup CLUSTERS: the q29 pair pipeline closed transitively via
    // min-label propagation ([[graft.ops.Components]]) — without the
    // closure, chained near-dups (A~B, B~C, A!~C) survive pairwise dedup.
    // The oracle computes the same fixpoint as a recursive CTE. The labels
    // are built/materialized ONCE per input by [[ClusterLabels]] and shared
    // with q134/q154 (VERDICT r4 #5: the closure is the registry's most
    // expensive subtree — persist it, don't recompute it per consumer).
    Qry("q72_dedup_clusters",
      (s, dir) => ClusterLabels(s, dir),
      Some({
        val (as, bs) = TextOps.minhashParams(16)
        val aArr = as.mkString("[", ",", "]")
        val bArr = bs.mkString("[", ",", "]")
        s"""WITH RECURSIVE d0 AS ($docsWithDupsSql),
        |d AS (SELECT doc_id, ${shinglesSql(toksSql)} AS sh FROM d0),
        |docs AS (SELECT doc_id, sh FROM d WHERE len(sh) > 0),
        |bases AS (SELECT doc_id, sh,
        |    list_transform(sh, s -> ${h64("s")} % ${TextOps.minhashM}) AS hs FROM docs),
        |sigs AS (SELECT doc_id, sh,
        |    list_transform(range(0, 16), i -> list_min(list_transform(hs,
        |      h -> (h * ($aArr)[i + 1] + ($bArr)[i + 1]) % ${TextOps.minhashM}))) AS sig
        |  FROM bases),
        |keys AS (SELECT doc_id, unnest(list_transform(range(0, 8),
        |    b -> CAST(b AS VARCHAR) || ':' || md5(array_to_string(
        |           sig[b * 2 + 1 : b * 2 + 2], ',')))) AS band_key
        |  FROM sigs),
        |c0 AS (SELECT doc_id,
        |    [lead(doc_id, 1) OVER wd, lead(doc_id, 2) OVER wd,
        |     lead(doc_id, 3) OVER wd] AS nxt
        |  FROM keys WINDOW wd AS (PARTITION BY band_key ORDER BY doc_id)),
        |cand AS (SELECT DISTINCT id_a, id_b FROM (
        |    SELECT doc_id AS id_a, unnest(nxt) AS id_b FROM c0)
        |  WHERE id_b IS NOT NULL),
        |pairs AS (SELECT id_a, id_b
        |  FROM cand JOIN docs da ON da.doc_id = id_a JOIN docs db ON db.doc_id = id_b
        |  WHERE (CASE WHEN len(list_distinct(da.sh || db.sh)) = 0 THEN 0.0
        |    ELSE CAST(len(list_intersect(list_distinct(da.sh), list_distinct(db.sh))) AS DOUBLE)
        |         / len(list_distinct(da.sh || db.sh)) END) >= 0.5),
        |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
        |  UNION ALL SELECT id_b, id_a FROM pairs),
        |reach(id, lbl) AS (
        |  SELECT doc_id, doc_id FROM docs
        |  UNION
        |  SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.id),
        |cc AS (SELECT id, min(lbl) AS cluster_id FROM reach GROUP BY 1)
        |SELECT id AS doc_id, cluster_id,
        |  CAST(count(*) OVER (PARTITION BY cluster_id) AS BIGINT) AS n_members
        |FROM cc""".stripMargin
      })),

    // set operations (INTERSECT / EXCEPT): engaged-but-not-converted
    // audiences. Catalyst lowers both to aggregates + semi/anti joins —
    // each input is pre-shrunk to a distinct key set before the ops, so
    // the shuffles carry user ids only
    Qry("q73_set_ops",
      (s, dir) => {
        // early-window cut keeps each set selective (every user eventually
        // does everything over the full month). The cut is applied to the
        // RAW ts column in its native read type — a bare-attribute compare
        // reaches PushedFilters (row-group pruning at 100 TB); a compare on
        // the cast/converted column would not (PlanAudit-verified). NTZ
        // literal for the 4.1+ NTZ read, nanos long under the legacy flag.
        val raw = t(s, dir, "events")
        val ev = raw.schema("ts").dataType match {
          case org.apache.spark.sql.types.LongType =>
            raw.filter(col("ts") < lit(1704326400L * 1000000000L)) // 2024-01-04T00:00Z ns
          case org.apache.spark.sql.types.TimestampNTZType =>
            raw.filter(col("ts") < lit("2024-01-04").cast("timestamp_ntz"))
          case _ => raw.filter(col("ts") < lit("2024-01-04").cast("timestamp"))
        }
        def ids(tpe: String) =
          ev.filter(col("event_type") === tpe).select("user_id").distinct()
        ids("click").intersect(ids("view")).except(ids("purchase"))
      },
      Some("""(SELECT DISTINCT user_id FROM events
        |  WHERE event_type = 'click' AND ts < TIMESTAMP '2024-01-04'
        |INTERSECT
        |SELECT DISTINCT user_id FROM events
        |  WHERE event_type = 'view' AND ts < TIMESTAMP '2024-01-04')
        |EXCEPT
        |SELECT DISTINCT user_id FROM events
        |  WHERE event_type = 'purchase' AND ts < TIMESTAMP '2024-01-04'""".stripMargin)),

    // forward-fill (last non-null over an ordered per-key frame): carry
    // each user's most recent purchase amount onto every later event —
    // the gap-filling primitive for sparse time series; one shuffle on
    // user_id, the IGNORE NULLS window is a single ordered pass
    Qry("q83_forward_fill",
      (s, dir) => {
        val ev = events(s, dir)
        val purchaseCents = when(col("event_type") === "purchase",
          round(col("value") * 100, 0).cast("long"))
        val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ev.select(col("event_id"), col("user_id"),
          last(purchaseCents, ignoreNulls = true).over(w).as("last_purchase_cents"))
      },
      Some("""SELECT event_id, user_id,
        |  last_value(CASE WHEN event_type = 'purchase'
        |      THEN CAST(round(value * 100) AS BIGINT) END IGNORE NULLS)
        |    OVER (PARTITION BY user_id ORDER BY ts, event_id
        |          ROWS UNBOUNDED PRECEDING) AS last_purchase_cents
        |FROM events""".stripMargin)),

    // positional explode (posexplode): token + ordinal — the n-gram /
    // position-feature primitive; Generate is narrow (no shuffle), output
    // capped at 5 tokens per doc here to keep the row a prefix sample
    Qry("q82_posexplode",
      (s, dir) => spread(s, t(s, dir, "documents"))
        .select(col("doc_id"), posexplode(TextOps.tokens(col("text"))))
        .toDF("doc_id", "pos", "token")
        .filter(col("pos") < 5),
      Some(s"""WITH d AS (SELECT doc_id, $toksSql AS tk FROM documents)
        |SELECT doc_id, CAST(u.i - 1 AS INT) AS pos, tk[u.i] AS token
        |FROM d, unnest(generate_series(1, least(len(tk), 5))) AS u(i)""".stripMargin)),

    // bounded-window interval join: purchases within 30 min AFTER each click,
    // banded by time bucket — each side shuffles once, 2× bounded
    // fan-out, no per-key quadratic range join
    Qry("q61_interval_join",
      (s, dir) => {
        val ev = events(s, dir)
        val clicks = ev.filter(col("event_type") === "click")
          .select(col("event_id"), col("user_id"), col("ts"))
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("ts").as("p_ts"), col("value"))
        graft.ops.IntervalJoin.within(clicks, purchases, "user_id", "ts", "p_ts", 1800)
          .select(col("event_id"), col("user_id"),
            date_format(col("p_ts"), "yyyy-MM-dd HH:mm:ss").as("p_ts"),
            round(col("value") * 100, 0).cast("long").as("value_cents"))
      },
      Some("""SELECT c.event_id, c.user_id,
        |  strftime(p.ts, '%Y-%m-%d %H:%M:%S') AS p_ts,
        |  CAST(round(p.value * 100) AS BIGINT) AS value_cents
        |FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click') c
        |JOIN (SELECT user_id, ts, value FROM events WHERE event_type = 'purchase') p
        |  ON c.user_id = p.user_id
        |  AND epoch_us(p.ts) >= epoch_us(c.ts)
        |  AND epoch_us(p.ts) < epoch_us(c.ts) + 1800000000""".stripMargin)),

    // multimodal frame sampling through the real mapPartitions plumbing
    // (typed Dataset[Media] → Dataset[Frame]; the deterministic stub
    // decoder slices payload bytes) — oracle reproduces the stride/slice
    // arithmetic over the same bytes, so the PLUMBING is hash-checked even
    // though the codec is a stand-in
    Qry("q62_frame_sample",
      (s, dir) => {
        implicit val sp: SparkSession = s
        import s.implicits._
        val media = t(s, dir, "documents")
          .select(col("doc_id"),
            when(col("doc_id") % 3 === 0, lit("video")).otherwise(lit("image"))
              .as("media_type"),
            col("text").cast("binary").as("payload"))
          .as[graft.multimodal.Multimodal.Media]
        graft.multimodal.Multimodal.sampleFrames(media, 4).toDF()
          .select(col("doc_id"), col("frame_idx"),
            length(col("frame_payload")).as("n_bytes"),
            md5(col("frame_payload")).as("frame_md5"))
      },
      // documents text is pure ASCII (verified), so byte offsets == char
      // offsets and VARCHAR substr mirrors the byte slices exactly
      Some("""WITH v AS (SELECT doc_id, text, length(text) AS len
        |  FROM documents WHERE doc_id % 3 = 0),
        |f AS (SELECT doc_id, text, len,
        |    unnest(range(0, greatest(len // 64, 1), 4)) AS i FROM v)
        |SELECT doc_id, CAST(i AS INT) AS frame_idx,
        |  CAST(length(substr(text, CAST(i * 64 % greatest(len, 1) AS INT) + 1, 64)) AS INT) AS n_bytes,
        |  md5(substr(text, CAST(i * 64 % greatest(len, 1) AS INT) + 1, 64)) AS frame_md5
        |FROM f""".stripMargin)),

    // semi-structured extraction: JSON props column → typed field → rollup
    // (get_json_object is a narrow codegen'd expression; no UDF)
    Qry("q67_json_extract",
      (s, dir) => events(s, dir)
        .select(col("event_type"),
          get_json_object(col("props"), "$.k").cast("int").as("k"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum("k").as("sum_k"),
          count(when(col("k") > 50, 1)).as("n_high")),
      Some("""SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(json_extract_string(props, '$.k') AS INT)) AS BIGINT) AS sum_k,
        |  CAST(count(CASE WHEN CAST(json_extract_string(props, '$.k') AS INT) > 50
        |    THEN 1 END) AS BIGINT) AS n_high
        |FROM events GROUP BY 1""".stripMargin)),

    // PII scrubbing — the redaction pass every training corpus needs:
    // deterministic synthetic emails/phones injected into a quarter of the
    // docs, then email-pattern and long-digit-run replacement; counts +
    // scrubbed-text hash prove the exact rewrite, not just "something
    // changed". Pure per-row regex — narrow at any scale.
    Qry("q68_pii_scrub",
      (s, dir) => {
        val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
        val withPii = spread(s, t(s, dir, "documents")).select(col("doc_id"),
          when(col("doc_id") % 4 === 0,
            concat(col("text"), lit(" contact user"), col("doc_id").cast("string"),
              lit("@mail.example phone 555-"), col("doc_id").cast("string"), lit("1234")))
            .otherwise(col("text")).as("t"))
        withPii.select(col("doc_id"),
          regexp_count(col("t"), lit(emailRe)).as("n_emails"),
          md5(regexp_replace(regexp_replace(col("t"), emailRe, "<EMAIL>"),
            "[0-9]{3,}", "<NUM>")).as("scrubbed_md5"))
      },
      Some("""WITH p AS (SELECT doc_id,
        |    CASE WHEN doc_id % 4 = 0
        |      THEN text || ' contact user' || CAST(doc_id AS VARCHAR) ||
        |           '@mail.example phone 555-' || CAST(doc_id AS VARCHAR) || '1234'
        |      ELSE text END AS t
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(t,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INT) AS n_emails,
        |  md5(regexp_replace(regexp_replace(t,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '[0-9]{3,}', '<NUM>', 'g')) AS scrubbed_md5
        |FROM p""".stripMargin)),

    // vocabulary building: corpus-wide token frequencies, deterministic
    // top-100 — the classic map-side-combined wordcount; the top-k is a
    // TakeOrdered over the (small) aggregated vocab, never a global sort
    // of the token stream
    Qry("q69_vocab_topk",
      (s, dir) => spread(s, t(s, dir, "documents"))
        .select(explode(TextOps.tokens(col("text"))).as("token"))
        .filter(length(col("token")) > 0)
        .groupBy("token").agg(count(lit(1)).as("n"))
        .orderBy(desc("n"), col("token")).limit(100),
      Some(s"""WITH tk AS (SELECT unnest($toksSql) AS token FROM documents)
        |SELECT token, CAST(count(*) AS BIGINT) AS n FROM tk
        |WHERE length(token) > 0
        |GROUP BY 1 ORDER BY n DESC, token LIMIT 100""".stripMargin)),

    // gap-based sessionization (30-min inactivity breaks)
    Qry("q40_sessionize",
      (s, dir) => sessionized(s, dir)
        .groupBy("user_id", "session_num")
        .agg(count(lit(1)).as("n_events"),
          date_format(min("ts"), "yyyy-MM-dd HH:mm:ss").as("session_start")),
      Some("""WITH g AS (SELECT user_id, event_id, ts,
        |    CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
        |           OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000 THEN 1
        |         ELSE 0 END AS new_session
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (SELECT user_id, ts, sum(new_session) OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS session_num FROM g)
        |SELECT user_id, CAST(session_num AS BIGINT) AS session_num,
        |  CAST(count(*) AS BIGINT) AS n_events,
        |  strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start
        |FROM s GROUP BY user_id, session_num""".stripMargin)),

    // BM25 keyword retrieval ([[graft.text.Search.bm25]]): per-doc term
    // frequencies straight off the token array (no explode), corpus stats
    // as a 1-row broadcast — ONE narrow pass over the corpus, zero data
    // shuffles; contributions summed in fixed term order so the double is
    // engine-reproducible (ln is the 1-ulp exception → round 6). Top-20
    // is orderBy+limit — TakeOrdered, never a global sort.
    Qry("q88_bm25_search",
      (s, dir) => bm25Top(s, dir),
      Some(s"""WITH $bm25ScoredCtes
        |SELECT doc_id, round(score, 6) AS score FROM scored WHERE score > 0
        |ORDER BY round(score, 6) DESC, doc_id LIMIT 20""".stripMargin)),

    // TF-IDF top terms per document ([[graft.text.Search.tfidfTopTerms]]):
    // tf via one (doc,term) aggregate, df via the vocabulary-sized rollup
    // (broadcast back), top-k via a PER-DOCUMENT window — no global sort;
    // ranking happens on the ROUNDED weight so both engines break ties the
    // same way regardless of ln's last ulp
    Qry("q94_tfidf_terms",
      (s, dir) => graft.text.Search.tfidfTopTerms(
        spread(s, t(s, dir, "documents")), col("doc_id"), col("text"), 3),
      Some(s"""WITH tok AS (SELECT doc_id, unnest($toksSql) AS term FROM documents),
        |tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM tok
        |  WHERE length(term) > 0 GROUP BY 1, 2),
        |df AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
        |s AS (SELECT tf.doc_id, tf.term, tf.tf, df.df,
        |    round(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df.df), 6) AS tfidf
        |  FROM tf JOIN df USING (term) CROSS JOIN n),
        |r AS (SELECT doc_id, term, tf, df, tfidf,
        |    CAST(row_number() OVER (PARTITION BY doc_id
        |      ORDER BY tfidf DESC, term) AS INT) AS rnk
        |  FROM s)
        |SELECT doc_id, term, tf, df, tfidf, rnk FROM r WHERE rnk <= 3""".stripMargin)),

    // SLIDING windows (1 h window, 15 min slide): Spark's native window()
    // operator emits each event into its 4 overlapping windows. The oracle
    // reproduces the epoch-aligned starts with exact µs arithmetic (k·15
    // min back from the event's 15-min floor), so the window assignment
    // itself is what gets hash-checked
    Qry("q95_sliding_window",
      (s, dir) => events(s, dir)
        .groupBy(window(col("ts"), "1 hour", "15 minutes").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .select(date_format(col("w.start"), "yyyy-MM-dd HH:mm").as("window_start"),
          col("event_type"), col("n")),
      Some("""WITH f AS (SELECT event_type,
        |    (epoch_us(ts) // 900000000) * 900000000 AS floor_us FROM events),
        |w AS (SELECT event_type,
        |    make_timestamp(floor_us - k * 900000000) AS ws
        |  FROM f, unnest(range(0, 4)) AS t(k))
        |SELECT strftime(ws, '%Y-%m-%d %H:%M') AS window_start, event_type,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM w GROUP BY 1, 2""".stripMargin)),

    // rolling engagement: DAU and trailing-7-day WAU per day. The WAU is
    // NOT a distinct-over-range window (no engine does that scalably) —
    // each distinct (user, day) fans out to the ≤7 report days it supports,
    // then one exact count-distinct per day; bounded 7× fan-out of the
    // already-deduped pairs, so the shape survives any event volume
    Qry("q96_active_users",
      (s, dir) => {
        val ud = events(s, dir)
          .select(col("user_id"), to_date(col("ts")).as("d")).distinct()
        val days = ud.select("d").distinct()
        val dau = ud.groupBy("d").agg(countDistinct("user_id").as("dau"))
        val wau = ud.select(col("user_id"),
            explode(sequence(lit(0), lit(6))).as("k"), col("d"))
          .select(col("user_id"), date_add(col("d"), col("k")).as("d"))
          .join(days, Seq("d"), "left_semi")
          .groupBy("d").agg(countDistinct("user_id").as("wau"))
        dau.join(wau, Seq("d"))
          .select(date_format(col("d"), "yyyy-MM-dd").as("d"),
            col("dau"), col("wau"))
      },
      Some("""WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events),
        |days AS (SELECT DISTINCT d FROM ud),
        |dau AS (SELECT d, CAST(count(DISTINCT user_id) AS BIGINT) AS dau
        |  FROM ud GROUP BY 1),
        |fan AS (SELECT user_id, d + CAST(k AS INT) AS d
        |  FROM ud, unnest(range(0, 7)) AS t(k)),
        |wau AS (SELECT fan.d, CAST(count(DISTINCT user_id) AS BIGINT) AS wau
        |  FROM fan JOIN days ON days.d = fan.d GROUP BY 1)
        |SELECT strftime(dau.d, '%Y-%m-%d') AS d, dau, wau
        |FROM dau JOIN wau ON dau.d = wau.d""".stripMargin)),

    // character-trigram profiles per language ([[TextOps.charNgrams]]):
    // top-30 trigrams by frequency within each lang — the script/encoding
    // fingerprint a real language-ID swaps in for the marker heuristic;
    // explode + (lang, gram) aggregate + per-lang window, no global sort
    Qry("q100_char_trigrams",
      (s, dir) => {
        val w = Window.partitionBy("lang").orderBy(desc("n"), col("tg"))
        spread(s, t(s, dir, "documents"))
          .select(col("lang"), explode(TextOps.charNgrams(col("text"), 3)).as("tg"))
          .groupBy("lang", "tg").agg(count(lit(1)).as("n"))
          .withColumn("rnk", row_number().over(w).cast("int"))
          .filter(col("rnk") <= 30)
      },
      Some(s"""WITH d AS (SELECT lang, $normSql AS nm FROM documents),
        |tg AS (SELECT lang, unnest(CASE WHEN length(nm) >= 3
        |    THEN list_transform(range(1, length(nm) - 1), i -> substr(nm, CAST(i AS INT), 3))
        |    ELSE [] END) AS tg
        |  FROM d),
        |g AS (SELECT lang, tg, CAST(count(*) AS BIGINT) AS n FROM tg GROUP BY 1, 2),
        |r AS (SELECT lang, tg, n,
        |    CAST(row_number() OVER (PARTITION BY lang ORDER BY n DESC, tg) AS INT) AS rnk
        |  FROM g)
        |SELECT lang, tg, n, rnk FROM r WHERE rnk <= 30""".stripMargin)),

    // HYBRID retrieVAL — reciprocal-rank fusion of the BM25 top-20 (q88's
    // scorer) with the exact cosine top-20 for query vector 0
    // ([[graft.text.Search.rrfFuse]]): the lexical+vector merge every RAG
    // index runs. Both lists are k-bounded, so the fusion join is over
    // ≤ 2k rows regardless of corpus size; ranks fuse in fixed order
    Qry("q101_hybrid_rrf",
      (s, dir) => {
        val bmW = Window.orderBy(desc("score"), col("doc_id"))
        val bmRanked = bm25Top(s, dir) // the q88 list, ranked (20 rows)
          .withColumn("rnk", row_number().over(bmW).cast("int"))
        val e = spread(s, t(s, dir, "embeddings"))
          .select(col("vec_id").as("id"), col("embedding").as("vec"))
        val vecTop = VectorOps.bruteForceTopK(e.filter(col("id") === 0), e, 20)
          .select(col("neighbor_id").as("doc_id"), col("rank").cast("int").as("rnk"))
        graft.text.Search.rrfFuse(bmRanked.select("doc_id", "rnk"), vecTop)
          .select(col("doc_id"), col("rnk_a"), col("rnk_b"),
            round(col("rrf"), 6).as("rrf"))
      },
      Some(s"""WITH $bm25ScoredCtes,
        |bm AS (SELECT doc_id, round(score, 6) AS score FROM scored WHERE score > 0
        |  ORDER BY round(score, 6) DESC, doc_id LIMIT 20),
        |bmr AS (SELECT doc_id, CAST(row_number() OVER
        |    (ORDER BY score DESC, doc_id) AS INT) AS rnk_a FROM bm),
        |e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
        |p AS (SELECT e.vec_id AS doc_id,
        |    list_sum(list_transform(range(1, len(qv) + 1), i -> qv[i] * e.v[i]))
        |      / (sqrt(list_sum(list_transform(qv, x -> x * x)))
        |         * sqrt(list_sum(list_transform(e.v, x -> x * x)))) AS cos
        |  FROM q, e WHERE e.vec_id <> 0),
        |vr AS (SELECT doc_id, CAST(row_number() OVER
        |    (ORDER BY cos DESC, doc_id) AS INT) AS rnk_b
        |  FROM p QUALIFY rnk_b <= 20)
        |SELECT COALESCE(bmr.doc_id, vr.doc_id) AS doc_id, rnk_a, rnk_b,
        |  round(COALESCE(1.0 / (60 + rnk_a), 0.0)
        |    + COALESCE(1.0 / (60 + rnk_b), 0.0), 6) AS rrf
        |FROM bmr FULL OUTER JOIN vr ON bmr.doc_id = vr.doc_id""".stripMargin)),

    // boilerplate detection: repeated-5-gram ratio ([[TextOps
    // .dupNgramRatio]], the Gopher repetition rule) + token-count bounds →
    // keep/drop flag. Pure per-row expressions; the keep decision compares
    // the UNROUNDED exact ratio so both engines flip at the same doc
    Qry("q102_boilerplate",
      (s, dir) => {
        val tk = TextOps.tokens(col("text"))
        val dup = TextOps.dupNgramRatio(tk, 5)
        spread(s, t(s, dir, "documents")).select(col("doc_id"),
          size(tk).as("n_tokens"),
          round(dup, 6).as("dup5_ratio"),
          (size(tk) >= 20 && size(tk) <= 100000 && dup < 0.3).as("keep"))
      },
      Some(s"""WITH d AS (SELECT doc_id, $toksSql AS tk FROM documents),
        |s AS (SELECT doc_id, len(tk) AS n_tokens,
        |    CASE WHEN len(tk) >= 5
        |      THEN list_transform(range(0, len(tk) - 4),
        |             i -> tk[i + 1] || ' ' || tk[i + 2] || ' ' || tk[i + 3]
        |                  || ' ' || tk[i + 4] || ' ' || tk[i + 5])
        |      ELSE [] END AS sh
        |  FROM d),
        |r AS (SELECT doc_id, n_tokens,
        |    CASE WHEN len(sh) = 0 THEN 0.0
        |      ELSE 1.0 - CAST(len(list_distinct(sh)) AS DOUBLE) / len(sh) END AS dup5
        |  FROM s)
        |SELECT doc_id, n_tokens, round(dup5, 6) AS dup5_ratio,
        |  (n_tokens >= 20 AND n_tokens <= 100000 AND dup5 < 0.3) AS keep
        |FROM r""".stripMargin)),

    // URL/domain extraction — source-reputation scoring for web corpora:
    // deterministic synthetic URLs injected into a third of the docs (the
    // q68 PII pattern), domains pulled with one codegen'd
    // regexp_extract_all, counted per domain. Narrow + one small agg
    Qry("q103_url_domains",
      (s, dir) => {
        val withUrls = spread(s, t(s, dir, "documents")).select(col("doc_id"),
          when(col("doc_id") % 3 === 0,
            concat(col("text"), lit(" see https://site"),
              (col("doc_id") % 20).cast("string"), lit(".example/page and http://cdn"),
              (col("doc_id") % 7).cast("string"), lit(".example/x")))
            .otherwise(col("text")).as("t"))
        withUrls
          .select(explode(regexp_extract_all(col("t"),
            lit("https?://([a-z0-9.-]+)/"), lit(1))).as("domain"))
          .groupBy("domain").agg(count(lit(1)).as("n"))
      },
      Some("""WITH p AS (SELECT doc_id,
        |    CASE WHEN doc_id % 3 = 0
        |      THEN text || ' see https://site' || CAST(doc_id % 20 AS VARCHAR)
        |           || '.example/page and http://cdn' || CAST(doc_id % 7 AS VARCHAR)
        |           || '.example/x'
        |      ELSE text END AS t
        |  FROM documents),
        |d AS (SELECT unnest(regexp_extract_all(t, 'https?://([a-z0-9.-]+)/', 1))
        |    AS domain FROM p)
        |SELECT domain, CAST(count(*) AS BIGINT) AS n FROM d
        |WHERE domain <> '' GROUP BY 1""".stripMargin)),

    // int8 scalar quantization ([[VectorOps.scalarQuantize]]): per-dim
    // extrema → one row of arrays → broadcast back; codes serialized to a
    // canonical string so both engines compare the same form
    Qry("q104_scalar_quantization",
      (s, dir) => VectorOps.scalarQuantize(
          spread(s, t(s, dir, "embeddings")), col("vec_id"), col("embedding"))
        .select(col("id").as("vec_id"),
          concat_ws(",", transform(col("q8"), x => x.cast("string"))).as("q8")),
      Some("""WITH e AS (SELECT vec_id,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
        |dims AS (SELECT CAST(t.i AS INT) AS i,
        |    min(v[CAST(t.i AS INT) + 1]) AS mn, max(v[CAST(t.i AS INT) + 1]) AS mx
        |  FROM e, unnest(range(0, len(v))) AS t(i) GROUP BY 1),
        |st AS (SELECT list(mn ORDER BY i) AS mns, list(mx ORDER BY i) AS mxs
        |  FROM dims),
        |q AS (SELECT vec_id, list_transform(range(1, len(v) + 1), j ->
        |    CAST(CAST(CASE WHEN mxs[j] = mns[j] THEN 0.0
        |      ELSE round((v[j] - mns[j]) * 255.0 / (mxs[j] - mns[j])) END
        |      AS INT) AS VARCHAR)) AS ql
        |  FROM e CROSS JOIN st)
        |SELECT vec_id, array_to_string(ql, ',') AS q8 FROM q""".stripMargin)),

    // unigram token entropy per doc — the distributional quality signal
    // (template spam ≈ low entropy, natural text ≈ high). Per-doc term
    // frequencies via one (doc,term) aggregate; the float fold is a
    // SORTED sequential reduce in both engines (the q32 list_reduce
    // contract), so the double survives the hash compare
    Qry("q109_token_entropy",
      (s, dir) => {
        val tf = spread(s, t(s, dir, "documents"))
          .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("term"))
          .filter(length(col("term")) > 0)
          .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
        val p = col("tf").cast("double") / col("n_tokens")
        tf.withColumn("n_tokens", sum("tf").over(Window.partitionBy("doc_id")))
          .select(col("doc_id"), col("n_tokens"), (-(p * log(p))).as("c"))
          .groupBy("doc_id", "n_tokens")
          .agg(round(aggregate(array_sort(collect_list(col("c"))),
            lit(0.0), (a, x) => a + x), 6).as("entropy"))
      },
      Some(s"""WITH tok AS (SELECT doc_id, unnest($toksSql) AS term FROM documents),
        |tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM tok
        |  WHERE length(term) > 0 GROUP BY 1, 2),
        |n AS (SELECT doc_id, term, tf,
        |    CAST(sum(tf) OVER (PARTITION BY doc_id) AS BIGINT) AS n_tokens FROM tf),
        |c AS (SELECT doc_id, n_tokens,
        |    -((CAST(tf AS DOUBLE) / n_tokens) * ln(CAST(tf AS DOUBLE) / n_tokens)) AS c
        |  FROM n)
        |SELECT doc_id, n_tokens,
        |  round(list_reduce(list_prepend(0.0, list_sort(list(c))),
        |    (a, x) -> a + x), 6) AS entropy
        |FROM c GROUP BY 1, 2""".stripMargin)),

    // weighted sampling without replacement (Efraimidis–Spirakis A-Res):
    // key = ln(u)/w with a seeded md5 uniform — longer docs (w = n_chars)
    // proportionally likelier, the data-mixing primitive for weighting
    // sources in a training blend. Top-k by key is TakeOrdered (never a
    // global sort); the same seed reproduces the same sample anywhere
    Qry("q110_weighted_sample",
      (s, dir) => {
        val u = (pmod(TextOps.hash64(concat(lit("ws|"), col("doc_id").cast("string"))),
          lit(1000000000L)) + 1).cast("double") / 1000000000.0
        spread(s, t(s, dir, "documents"))
          .select(col("doc_id"), col("n_chars"),
            round(log(u) / col("n_chars"), 9).as("k"))
          .orderBy(desc("k"), col("doc_id")).limit(50)
      },
      Some(s"""WITH k AS (SELECT doc_id, n_chars,
        |    round(ln(CAST(${h64("'ws|' || CAST(doc_id AS VARCHAR)")}
        |        % 1000000000 + 1 AS DOUBLE) / 1000000000.0) / n_chars, 9) AS k
        |  FROM documents)
        |SELECT doc_id, n_chars, k FROM k
        |ORDER BY k DESC, doc_id LIMIT 50""".stripMargin)),

    // NATIVE session windows: Spark's session_window() merges events whose
    // gaps stay under 30 min — the declarative form of q40's manual
    // lag/running-sum sessionization (and the one that also runs under
    // Structured Streaming with state eviction). Boundary semantics differ
    // from q40 deliberately: a gap of EXACTLY 30 min starts a new session
    // here (window end is exclusive), so the oracle uses >=
    Qry("q111_session_window",
      (s, dir) => events(s, dir)
        .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("w"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"),
          date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("session_start"),
          date_format(col("w.end"), "yyyy-MM-dd HH:mm:ss").as("session_end"),
          col("n_events")),
      Some("""WITH g AS (SELECT user_id, event_id, ts,
        |    CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
        |           OR epoch_us(ts) - lag(epoch_us(ts)) OVER w >= 1800000000 THEN 1
        |         ELSE 0 END AS new_session
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (SELECT user_id, ts, sum(new_session) OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS sn FROM g)
        |SELECT user_id,
        |  strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
        |  strftime(max(ts) + INTERVAL 30 MINUTE, '%Y-%m-%d %H:%M:%S') AS session_end,
        |  CAST(count(*) AS BIGINT) AS n_events
        |FROM s GROUP BY user_id, sn""".stripMargin)),

    // approximate aggregates — the sketches a 100 TB interactive layer
    // leans on when exact distinct/percentile would shuffle the world:
    // HLL++ count-distinct and quantile sketches next to their exact
    // twins. Raw sketch VALUES are engine-specific (no oracle can
    // reproduce them), so the row carries the exact columns hash-matched
    // plus the calibration contract |approx−exact|/exact ≤ 5% as
    // DETERMINISTIC booleans the oracle asserts literally TRUE — the same
    // bound ApproxAggSpec enforces, now inside the correctness gate
    Qry("q112_approx_aggregates",
      (s, dir) => {
        // slim 3-column cache feeding the sketch aggregate + the
        // quantile's three passes
        val ev = events(s, dir)
          .withColumn("cents", round(col("value") * 100, 0).cast("long"))
          .select("event_type", "user_id", "cents")
          .cache()
        // the exact p50 twin comes from the two-exchange value-histogram
        // quantile (graft.ops.Quantiles) — the built-in `percentile`
        // would buffer every group value, the exact failure mode the
        // sketches exist to avoid. The exact distinct is a two-stage
        // aggregate (dedup on (type, user), then count) joined with the
        // sketch aggregate: mixing countDistinct into the sketch agg
        // plans an Expand that DOUBLES every shuffled row — measured 10×
        // slower at sf0.1, and strictly worse at 100 TB
        val exact = ev.groupBy("event_type", "user_id").agg(count(lit(1)).as("__o"))
          .groupBy("event_type").agg(count(lit(1)).as("n_users_exact"))
        ev.groupBy("event_type")
          .agg(approx_count_distinct(col("user_id"), rsd = 0.02).as("n_users_approx"),
            expr("approx_percentile(cents, 0.5, 10000)").as("p50_approx"))
          .join(exact, Seq("event_type"))
          .join(graft.ops.Quantiles.valueHistogramQuantiles(
            ev, Seq("event_type"), "cents", Seq("p50_exact" -> 0.5)),
            Seq("event_type"))
      }
        .select(col("event_type"), col("n_users_exact"),
          round(col("p50_exact"), 6).as("p50_exact"),
          (abs(col("n_users_approx") - col("n_users_exact")).cast("double") /
            col("n_users_exact") <= 0.05).as("users_within_5pct"),
          (abs(col("p50_approx") - col("p50_exact")) / col("p50_exact") <= 0.05)
            .as("p50_within_5pct")),
      Some("""SELECT event_type,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users_exact,
        |  round(quantile_cont(CAST(round(value * 100) AS BIGINT), 0.5), 6) AS p50_exact,
        |  TRUE AS users_within_5pct, TRUE AS p50_within_5pct
        |FROM events GROUP BY event_type""".stripMargin)),

    // as-of join with a STALENESS bound: each view event picks the user's
    // most recent prior purchase, but only if it happened within the last
    // hour — the freshness contract of feature lookups (a stale feature is
    // worse than a missing one). Composition: [[AsOfJoin.asOfUnion]]
    // carries the matched timestamp out, the tolerance gate nulls late
    // matches; still ONE shuffle per side, no range-join blowup
    Qry("q113_asof_tolerance",
      (s, dir) => {
        val ev = events(s, dir)
        val views = ev.filter(col("event_type") === "view")
          .select(col("event_id"), col("user_id"), col("ts"))
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("ts").as("p_ts"),
            round(col("value") * 100, 0).cast("long").as("cents"))
        graft.ops.AsOfJoin.asOfUnion(views, purchases,
            "user_id", "ts", "p_ts", Seq("p_ts", "cents"))
          .select(col("event_id"), col("user_id"),
            when(col("asof_p_ts").isNotNull &&
              unix_micros(col("ts")) - unix_micros(col("asof_p_ts")) <= 3600000000L,
              col("asof_cents")).as("recent_purchase_cents"))
      },
      Some("""WITH v AS (SELECT event_id, user_id, ts FROM events
        |    WHERE event_type = 'view'),
        |p AS (SELECT user_id, ts AS p_ts, CAST(round(value * 100) AS BIGINT) AS cents
        |  FROM events WHERE event_type = 'purchase'),
        |last AS (SELECT v.event_id, v.user_id, v.ts, max(p.p_ts) AS mp
        |  FROM v LEFT JOIN p ON p.user_id = v.user_id AND p.p_ts <= v.ts
        |  GROUP BY 1, 2, 3),
        |pick AS (SELECT l.event_id, l.user_id, l.ts, l.mp, max(p.cents) AS cents
        |  FROM last l LEFT JOIN p ON p.user_id = l.user_id AND p.p_ts = l.mp
        |  GROUP BY 1, 2, 3, 4)
        |SELECT event_id, user_id,
        |  CASE WHEN mp IS NOT NULL AND epoch_us(ts) - epoch_us(mp) <= 3600000000
        |       THEN cents END AS recent_purchase_cents
        |FROM pick""".stripMargin)),

    // deterministic training-mix interleave: round-robin across languages
    // (sources) so a sequential reader sees a balanced stream —
    // mix_order = rank_within_lang · n_langs + lang_idx. The lang index
    // table is a handful of rows (broadcast); ranks are per-lang windows.
    // Any engine reproduces the exact ordering — resumable data loading
    Qry("q116_training_mix",
      (s, dir) => {
        val docs = spread(s, t(s, dir, "documents")).select("doc_id", "lang")
        val langIdx = docs.select("lang").distinct()
          .withColumn("lang_idx",
            (row_number().over(Window.orderBy("lang")) - 1).cast("int"))
        val nLangs = langIdx.agg(count(lit(1)).as("n_langs"))
        docs.join(broadcast(langIdx), "lang")
          .withColumn("rn", (row_number().over(
            Window.partitionBy("lang").orderBy("doc_id")) - 1).cast("long"))
          .crossJoin(broadcast(nLangs))
          .select(col("doc_id"), col("lang"),
            (col("rn") * col("n_langs") + col("lang_idx")).as("mix_order"))
      },
      Some("""WITH li AS (SELECT lang,
        |    CAST(row_number() OVER (ORDER BY lang) - 1 AS INT) AS lang_idx
        |  FROM (SELECT DISTINCT lang FROM documents)),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS n_langs FROM li),
        |r AS (SELECT doc_id, documents.lang, lang_idx,
        |    CAST(row_number() OVER (PARTITION BY documents.lang
        |      ORDER BY doc_id) - 1 AS BIGINT) AS rn
        |  FROM documents JOIN li ON documents.lang = li.lang)
        |SELECT doc_id, lang, rn * n_langs + lang_idx AS mix_order
        |FROM r CROSS JOIN n""".stripMargin)),

    // overlapping document chunking (64-token windows, stride 48): the
    // context-window splitter every RAG index / pretraining shard step
    // runs. Chunk starts are a per-row sequence explode (narrow — no
    // shuffle at all); texts hash to md5 so the rows stay slim while the
    // exact chunk CONTENT is what gets verified
    Qry("q117_chunk_overlap",
      (s, dir) => {
        val tk = TextOps.tokens(col("text"))
        // last start index ceil((n-64)/48) (0 when the doc fits one
        // window): a floor((n-1)/48) bound would emit a trailing chunk
        // wholly CONTAINED in the previous window whenever n mod 48 ≤ 16.
        // The empty-doc guard tests the normalized TEXT, not the token
        // array — tokens("") is [""], so size(tk) ≥ 1 even for blanks
        spread(s, t(s, dir, "documents"))
          .filter(length(TextOps.normText(col("text"))) > 0)
          .select(col("doc_id"), tk.as("tk"), size(tk).as("n"))
          .select(col("doc_id"), col("tk"), col("n"),
            explode(sequence(lit(0),
              greatest(ceil((col("n") - 64) / 48.0).cast("int"), lit(0))))
              .as("chunk_idx"))
          .select(col("doc_id"), col("chunk_idx"),
            least(lit(64), col("n") - col("chunk_idx") * 48).as("n_chunk_tokens"),
            md5(concat_ws(" ",
              slice(col("tk"), col("chunk_idx") * 48 + 1, lit(64)))).as("chunk_md5"))
      },
      Some(s"""WITH d AS (SELECT doc_id, $toksSql AS tk FROM documents
        |  WHERE length($normSql) > 0),
        |n AS (SELECT doc_id, tk, len(tk) AS n FROM d),
        |c AS (SELECT doc_id, tk, n, CAST(t.i AS INT) AS chunk_idx
        |  FROM n, unnest(range(0,
        |    greatest(CAST(ceil((n - 64) / 48.0) AS INT), 0) + 1)) AS t(i))
        |SELECT doc_id, chunk_idx,
        |  CAST(least(64, n - chunk_idx * 48) AS INT) AS n_chunk_tokens,
        |  md5(array_to_string(tk[chunk_idx * 48 + 1 : chunk_idx * 48 + 64], ' '))
        |    AS chunk_md5
        |FROM c""".stripMargin)),

    // the q29 band join with the HOT-BAND CAP biting (maxBandSize = 2):
    // docsWithDups gives every doc divisible by 35 TWO copies (verbatim
    // +20000, suffixed +10000) — the verbatim copy shares every band with
    // the original, so any band holding the suffixed copy too has 3
    // members and is excluded. The oracle reproduces the exclusion
    // exactly (HAVING count(*) > 2), proving the cap's semantics, not
    // just its existence — the text twin of the vector path's q54.
    Qry("q119_lsh_banded_cap",
      (s, dir) => {
        val docs = docsWithDups(s, dir)
          .select(col("doc_id"), TextOps.shingles(TextOps.tokens(col("text")), 3).as("sh"))
          .filter(size(col("sh")) > 0)
          .cache()
        Dedup.lshBandCandidates(docs, maxBandSize = 2)
      },
      Some({
        val (as, bs) = TextOps.minhashParams(16)
        val aArr = as.mkString("[", ",", "]")
        val bArr = bs.mkString("[", ",", "]")
        s"""WITH d0 AS ($docsWithDupsSql),
        |d AS (SELECT doc_id, ${shinglesSql(toksSql)} AS sh FROM d0),
        |docs AS (SELECT doc_id, sh FROM d WHERE len(sh) > 0),
        |bases AS (SELECT doc_id, sh,
        |    list_transform(sh, s -> ${h64("s")} % ${TextOps.minhashM}) AS hs FROM docs),
        |sigs AS (SELECT doc_id, sh,
        |    list_transform(range(0, 16), i -> list_min(list_transform(hs,
        |      h -> (h * ($aArr)[i + 1] + ($bArr)[i + 1]) % ${TextOps.minhashM}))) AS sig
        |  FROM bases),
        |keys AS (SELECT doc_id, unnest(list_transform(range(0, 8),
        |    b -> CAST(b AS VARCHAR) || ':' || md5(array_to_string(
        |           sig[b * 2 + 1 : b * 2 + 2], ',')))) AS band_key
        |  FROM sigs),
        |hot AS (SELECT band_key FROM keys GROUP BY 1 HAVING count(*) > 2),
        |k2 AS (SELECT doc_id, band_key FROM keys
        |  WHERE band_key NOT IN (SELECT band_key FROM hot))
        |SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        |FROM k2 a JOIN k2 b ON a.band_key = b.band_key AND a.doc_id < b.doc_id""".stripMargin
      })),

    // EMBEDDING near-dup clusters: the vector twin of q72 — capped
    // SRP-LSH candidate pairs (q54's machinery, hot-bucket guard biting)
    // closed transitively via min-label propagation. Semantic dedup needs
    // the closure for the same reason text dedup does: A≈B, B≈C chains
    // must collapse to one representative even when A and C never share a
    // bucket. The oracle computes the identical fixpoint recursively.
    Qry("q121_embed_dedup_clusters",
      (s, dir) => {
        val e = spread(s, t(s, dir, "embeddings"))
          .select(col("vec_id").as("id"), col("embedding").as("vec"))
        val edges = VectorOps.lshCandidatePairs(e, 6, 0.1, maxBucketSize = 12)
          .select(col("id_a").as("src"), col("id_b").as("dst"))
        graft.ops.Components.connectedComponents(e.select("id"), edges)
          .select(col("id").as("vec_id"), col("lbl").as("cluster_id"))
          .withColumn("n_members",
            count(lit(1)).over(Window.partitionBy("cluster_id")))
      },
      Some({
        val plane = (p: String, i: String) =>
          s"(('0x' || substr(md5($p || '|' || $i), 1, 12))::BIGINT / 140737488355328.0 - 1.0)"
        s"""WITH RECURSIVE e AS (SELECT vec_id,
          |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
          |b AS (SELECT vec_id, v, CAST(list_sum(list_transform(range(0, 6), p ->
          |    CASE WHEN list_sum(list_transform(range(1, len(v) + 1),
          |           i -> v[i] * ${plane("CAST(p AS VARCHAR)", "CAST(i - 1 AS VARCHAR)")})) > 0
          |         THEN 1::BIGINT << p ELSE 0 END)) AS BIGINT) AS bucket FROM e),
          |ok AS (SELECT bucket FROM b GROUP BY bucket HAVING count(*) <= 12),
          |pairs AS (SELECT a.vec_id AS id_a, b2.vec_id AS id_b
          |  FROM b a JOIN b b2 ON a.bucket = b2.bucket AND a.vec_id < b2.vec_id
          |  JOIN ok ON ok.bucket = a.bucket
          |  WHERE list_sum(list_transform(range(1, len(a.v) + 1), i -> a.v[i] * b2.v[i]))
          |      / (sqrt(list_sum(list_transform(a.v, x -> x * x)))
          |         * sqrt(list_sum(list_transform(b2.v, x -> x * x)))) >= 0.1),
          |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
          |  UNION ALL SELECT id_b, id_a FROM pairs),
          |reach(id, lbl) AS (
          |  SELECT vec_id, vec_id FROM e
          |  UNION
          |  SELECT ed.dst, r.lbl FROM reach r JOIN edges ed ON ed.src = r.id),
          |cc AS (SELECT id, min(lbl) AS cluster_id FROM reach GROUP BY 1)
          |SELECT id AS vec_id, cluster_id,
          |  CAST(count(*) OVER (PARTITION BY cluster_id) AS BIGINT) AS n_members
          |FROM cc""".stripMargin
      })),

    // BLOOM-FILTER decontamination — q60's scale path: the benchmark
    // gram set folds to ONE broadcast-able binary (Spark's own
    // BloomFilterAggregate; bits are an order-insensitive OR, so the
    // filter is deterministic) and candidates probe it per gram with NO
    // join — the exact semi-join must ship the whole benchmark set.
    // Bloom bits are engine-specific, so the row carries the exact
    // counts hash-matched plus the two engine-INDEPENDENT bloom
    // contracts as oracle-asserted booleans: zero false negatives, and
    // the per-gram false-positive rate under a sized bound (accounting
    // is per GRAM — a per-doc "any gram hit" flag would amplify any fpp
    // to ~1 on long docs)
    Qry("q122_bloom_decontamination",
      (s, dir) => {
        import graft.functions.Bloom
        val d = docsWithDups(s, dir)
          .select(col("doc_id"), array_distinct(transform(
            TextOps.shingles(TextOps.tokens(col("text")), 8),
            x => TextOps.hash64(x))).as("hs"))
          .cache()
        val isBench = col("doc_id") < 10000 && col("doc_id") % 50 === 0
        // EXPLICIT partition count for the bench-gram distinct (r15, the
        // q131 pattern): the bench set is BOUNDED BY CONSTRUCTION
        // (doc_id < 10000 → ≤200 docs at every sf), so its exchange never
        // needs AQE's 512-start fan-out insurance — the explicit count
        // satisfies the distinct's required distribution (no second
        // exchange) and sidesteps the 512-way bookkeeping this query
        // pays twice (the distinct feeds both the bloom-agg action and
        // the semi-join broadcast build).
        val np = s.sparkContext.defaultParallelism
        val benchGrams = d.filter(isBench)
          .select(explode(col("hs")).as("h"))
          .repartition(np, col("h")).distinct().cache()
        // ONE bounded row to the driver, embedded as a plan literal —
        // might_contain requires a constant bloom (same class of bounded
        // metadata as the SRP hyperplane constants; ~180 KB for 200k
        // items, shipped once with the plan, not per row)
        val bloomBytes = benchGrams.agg(Bloom.bloomAgg(col("h"), 200000L).as("bloom"))
          .head().getAs[Array[Byte]]("bloom")
        val cand = d.filter(!isBench)
        val probed = cand
          .select(col("doc_id"), size(col("hs")).as("n_grams"),
            size(filter(col("hs"), h => Bloom.mightContain(lit(bloomBytes), h)))
              .as("bloom_hits"))
        val exactHits = cand.select(col("doc_id"), explode(col("hs")).as("h"))
          .join(benchGrams, Seq("h"), "left_semi")
          .groupBy("doc_id").agg(count(lit(1)).as("exact_hits"))
        probed.join(exactHits, Seq("doc_id"), "left_outer")
          .select(col("doc_id"), col("n_grams"), col("bloom_hits"),
            coalesce(col("exact_hits"), lit(0L)).as("exact_hits"))
          .agg(count(lit(1)).as("n_docs"),
            count(when(col("exact_hits") > 0, 1)).as("n_contaminated"),
            sum("exact_hits").as("total_exact_hits"),
            (count(when(col("bloom_hits") < col("exact_hits"), 1)) === 0)
              .as("no_false_negatives"),
            (sum(col("bloom_hits") - col("exact_hits")).cast("double") /
              greatest(sum(col("n_grams")) - sum(col("exact_hits")), lit(1L))
              <= 0.05).as("fp_rate_within_bound"))
      },
      Some(s"""WITH d0 AS ($docsWithDupsSql),
        |tk AS (SELECT doc_id, $toksSql AS t FROM d0),
        |g AS (SELECT doc_id, list_distinct(list_transform(
        |    CASE WHEN len(t) >= 8
        |      THEN list_transform(range(0, len(t) - 7),
        |             i -> t[i + 1] || ' ' || t[i + 2] || ' ' || t[i + 3] || ' ' ||
        |                  t[i + 4] || ' ' || t[i + 5] || ' ' || t[i + 6] || ' ' ||
        |                  t[i + 7] || ' ' || t[i + 8])
        |      ELSE [] END, x -> ${h64("x")})) AS gs
        |  FROM tk),
        |cand AS (SELECT doc_id, gs FROM g
        |  WHERE NOT (doc_id < 10000 AND doc_id % 50 = 0)),
        |bench AS (SELECT DISTINCT unnest(gs) AS h FROM g
        |  WHERE doc_id < 10000 AND doc_id % 50 = 0),
        |hits AS (SELECT c.doc_id, CAST(count(*) AS BIGINT) AS exact_hits
        |  FROM (SELECT doc_id, unnest(gs) AS h FROM cand) c
        |  JOIN bench USING (h) GROUP BY 1)
        |SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(count(CASE WHEN coalesce(exact_hits, 0) > 0 THEN 1 END) AS BIGINT)
        |    AS n_contaminated,
        |  CAST(sum(coalesce(exact_hits, 0)) AS BIGINT) AS total_exact_hits,
        |  TRUE AS no_false_negatives, TRUE AS fp_rate_within_bound
        |FROM cand LEFT JOIN hits USING (doc_id)""".stripMargin))
  )
}
