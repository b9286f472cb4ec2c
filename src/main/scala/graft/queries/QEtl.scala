package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.dims.{DimDate, Scd2}
import graft.facts.{StockHistory, TxLoad, TxSidecar}
import graft.ops.{AsOfJoin, Dedup}
import graft.gen.Synthetic
import graft.validate.{Rules, Validator}
import QLlm.{t, events}

/** One registered query: the Spark program plus (when SQL-expressible) the
  * DuckDB oracle the driver cross-checks it against. */
final case class Qry(name: String, fn: (SparkSession, String) => DataFrame,
                     sql: Option[String])

/** ETL-parity queries over the driver testdata — every operator row of
  * SURVEY.md §2 exercised on the TPC-H-ish tables, with `customer`/`part`/
  * `orders`+`lineitem` standing in for the reference's users/products/
  * transactions. Derived inputs are synthesized IDENTICALLY in the Spark
  * builder and the DuckDB oracle text (deterministic arithmetic on keys
  * only — no RNG), so results hash-compare exactly.
  */
object QEtl {

  /** Row count memoized per (dir, table) per JVM. Used to size q181's
    * bloom, whose zero-column count scan — cheap but not free — would
    * otherwise re-run on every invocation in a sweep (ADVICE r13). Safe
    * to memoize: the driver corpora are immutable for a JVM's lifetime
    * (testdata is read-only; scratch corpora are regenerated only
    * between JVMs). */
  private val rowCountMemo = new scala.collection.concurrent.TrieMap[String, Long]()
  private def memoCount(s: SparkSession, dir: String, name: String): Long =
    rowCountMemo.getOrElseUpdate(s"$dir/$name", t(s, dir, name).count())

  private def ymd(c: Column): Column = date_format(c, "yyyy-MM-dd")

  /** q182/q183's J5 sidecar fixture: the 'F'-order history bucketed into
    * 64 key ranges (`kb`), and the ORDERKEY-range slice of lineitem that
    * arrives as the incoming batch. */
  private def sidecarFixture(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val bucketW = 1L + t(s, dir, "orders")
      .agg(max("o_orderkey")).head().getLong(0) / 64L
    val hist = t(s, dir, "orders").filter(col("o_orderstatus") === "F")
      .select(col("o_orderkey").as("l_orderkey"),
        (col("o_orderkey") / bucketW).cast("long").as("kb"))
    val incoming = t(s, dir, "lineitem")
      .filter("l_orderkey >= 1000 AND l_orderkey < 3000")
      .select("l_orderkey", "l_linenumber", "l_quantity")
    (hist, incoming)
  }

  /** One bloom-index row per `kb` bucket of `hist`, from one bounded agg
    * (collect is the sanctioned plan-literal pattern: ≤ 64 rows × ~57 KB
    * blooms). */
  private def bucketBlooms(hist: DataFrame): Seq[TxSidecar.Sidecar] =
    hist.groupBy("kb").agg(
        graft.functions.Bloom.bloomAgg(col("l_orderkey"), 65536L).as("b"),
        min("l_orderkey").as("mn"), max("l_orderkey").as("mx"),
        count(lit(1)).as("n"))
      .collect().toSeq.map(r => TxSidecar.Sidecar(r.getAs[Long]("kb").toString,
        r.getAs[Long]("kb").toString, r.getAs[Long]("mn"), r.getAs[Long]("mx"),
        r.getAs[Long]("n"), r.getAs[Array[Byte]]("b")))

  // --- synthesized dirty "transactions" shared by q03/q15/q23 -----------
  // (user orphans at %11, product orphans at %13, qty -1..5 from %7,
  //  payment domain with 'Bitcoin' injected at %5=0, status with 'Pending'
  //  at %3=0, dd-MM-yyyy bad dates at %17=0)
  private def dirtyTx(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders").select(
      col("o_orderkey").as("transaction_id"),
      when(col("o_orderkey") % 17 === 0, date_format(col("o_orderdate"), "dd-MM-yyyy"))
        .otherwise(ymd(col("o_orderdate"))).as("date"),
      when(col("o_orderkey") % 11 === 0, col("o_custkey") + 1000000)
        .otherwise(col("o_custkey")).as("user_id"),
      when(col("o_orderkey") % 13 === 0, col("o_orderkey") % 2000 + 1000000)
        .otherwise(col("o_orderkey") % 2000).as("product_id"),
      ((col("o_orderkey") % 7).cast("int") - 1).as("quantity"),
      col("o_totalprice").as("price"),
      element_at(array(lit("Bitcoin"), lit("Visa"), lit("MasterCard"),
        lit("Wire Transfer"), lit("Other")), (col("o_orderkey") % 5).cast("int") + 1)
        .as("payment_type"),
      element_at(array(lit("Pending"), lit("Success"), lit("Failed")),
        (col("o_orderkey") % 3).cast("int") + 1).as("status"))

  private val dirtyTxSql =
    """SELECT o_orderkey AS transaction_id,
      |  CASE WHEN o_orderkey % 17 = 0 THEN strftime(o_orderdate, '%d-%m-%Y')
      |       ELSE strftime(o_orderdate, '%Y-%m-%d') END AS date,
      |  CASE WHEN o_orderkey % 11 = 0 THEN o_custkey + 1000000 ELSE o_custkey END AS user_id,
      |  CASE WHEN o_orderkey % 13 = 0 THEN o_orderkey % 2000 + 1000000 ELSE o_orderkey % 2000 END AS product_id,
      |  CAST(o_orderkey % 7 AS INT) - 1 AS quantity,
      |  o_totalprice AS price,
      |  ['Bitcoin','Visa','MasterCard','Wire Transfer','Other'][CAST(o_orderkey % 5 AS INT) + 1] AS payment_type,
      |  ['Pending','Success','Failed'][CAST(o_orderkey % 3 AS INT) + 1] AS status
      |FROM orders""".stripMargin

  /** Dirty-tx rows annotated by the full contract → exploded error log. */
  private def dirtyTxErrors(s: SparkSession, dir: String): DataFrame = {
    val tx = dirtyTx(s, dir)
      .join(broadcast(t(s, dir, "customer").select(col("c_custkey").as("vu_user_id"))),
        col("user_id") === col("vu_user_id"), "left_outer")
      .join(broadcast(t(s, dir, "part").select(col("p_partkey").as("vp_product_id"))),
        col("product_id") === col("vp_product_id"), "left_outer")
    val v = new Validator(
      Rules.transactionRules(col("transaction_id"), col("date"), col("user_id"),
        col("product_id"), col("quantity"), col("payment_type"), col("status"), col("price"),
        col("vu_user_id").isNotNull, col("vp_product_id").isNotNull,
        lit(null).cast("double"), lit(1)),
      "transaction", col("transaction_id"), "transactions")
    v.errors(v.annotate(tx))
  }

  // the same rule catalog as UNION ALL text (messages are int/string only)
  private val dirtyTxErrorsSql =
    s"""WITH tx AS ($dirtyTxSql),
      |j AS (SELECT tx.*,
      |        user_id IN (SELECT c_custkey FROM customer) AS user_known,
      |        product_id IN (SELECT p_partkey FROM part) AS product_known
      |      FROM tx)
      |SELECT 'transaction' AS entity, CAST(transaction_id AS VARCHAR) AS record_id,
      |       'orphan_user' AS error_type, 'error' AS severity,
      |       'Transaction ' || CAST(transaction_id AS VARCHAR) || ' references non-existent user ' || CAST(user_id AS VARCHAR) AS message
      |FROM j WHERE NOT user_known
      |UNION ALL
      |SELECT 'transaction', CAST(transaction_id AS VARCHAR), 'orphan_product', 'error',
      |       'Transaction ' || CAST(transaction_id AS VARCHAR) || ' references non-existent product ' || CAST(product_id AS VARCHAR)
      |FROM j WHERE NOT product_known
      |UNION ALL
      |SELECT 'transaction', CAST(transaction_id AS VARCHAR), 'qty_zero', 'error',
      |       'Transaction ' || CAST(transaction_id AS VARCHAR) || ' has zero quantity'
      |FROM j WHERE quantity = 0
      |UNION ALL
      |SELECT 'transaction', CAST(transaction_id AS VARCHAR), 'qty_negative', 'error',
      |       'Transaction ' || CAST(transaction_id AS VARCHAR) || ' has negative quantity ' || CAST(quantity AS VARCHAR)
      |FROM j WHERE quantity < 0
      |UNION ALL
      |SELECT 'transaction', CAST(transaction_id AS VARCHAR), 'invalid_payment_type', 'error',
      |       'Transaction ' || CAST(transaction_id AS VARCHAR) || ' has invalid payment_type "' || payment_type || '"'
      |FROM j WHERE lower(coalesce(payment_type, '')) NOT IN ('visa','mastercard','wire transfer','other')
      |UNION ALL
      |SELECT 'transaction', CAST(transaction_id AS VARCHAR), 'invalid_status', 'error',
      |       'Transaction ' || CAST(transaction_id AS VARCHAR) || ' has invalid status "' || status || '"'
      |FROM j WHERE lower(coalesce(status, '')) NOT IN ('success','failed')
      |UNION ALL
      |SELECT 'transaction', CAST(transaction_id AS VARCHAR), 'bad_date_format', 'error',
      |       'Transaction ' || CAST(transaction_id AS VARCHAR) || ' has unparseable date "' || date || '"'
      |FROM j WHERE COALESCE(try_strptime(date, '%Y-%m-%d'),
      |        CASE WHEN contains(date, '/') THEN try_strptime(date, '%Y/%m/%d')
      |             WHEN contains(date, 'T') THEN try_strptime(split_part(date, 'T', 1), '%Y-%m-%d')
      |             WHEN regexp_matches(date, '^[0-9]{8}$$') THEN try_strptime(date, '%Y%m%d')
      |        END) IS NULL""".stripMargin

  // --- two-version SCD2 user dim shared by q07/q19 ----------------------
  private def dimUser2v(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer")
    c.select((col("c_custkey") * 2 + 1).as("user_sk"), col("c_custkey").as("user_id"),
        to_date(lit("1992-01-01")).as("start_date"), to_date(lit("1996-12-31")).as("end_date"),
        concat(lit("OLD:"), col("c_mktsegment")).as("segment"))
      .unionByName(
        c.select((col("c_custkey") * 2 + 2).as("user_sk"), col("c_custkey").as("user_id"),
          to_date(lit("1997-01-01")).as("start_date"), lit(null).cast("date").as("end_date"),
          col("c_mktsegment").as("segment")))
  }

  private val dimUser2vSql =
    """SELECT c_custkey * 2 + 1 AS user_sk, c_custkey AS user_id,
      |       DATE '1992-01-01' AS start_date, DATE '1996-12-31' AS end_date,
      |       'OLD:' || c_mktsegment AS segment FROM customer
      |UNION ALL
      |SELECT c_custkey * 2 + 2, c_custkey, DATE '1997-01-01', NULL, c_mktsegment FROM customer""".stripMargin

  val all: Seq[Qry] = Seq(

    // S1/S2/P1 — projected + filtered full scan (pushdown visible in plan)
    Qry("q01_scan_project",
      (s, dir) => t(s, dir, "customer")
        .filter(col("c_acctbal") > 0)
        .select("c_custkey", "c_name", "c_mktsegment", "c_acctbal"),
      Some("SELECT c_custkey, c_name, c_mktsegment, c_acctbal FROM customer WHERE c_acctbal > 0")),

    // S3 — daily incremental scan on the RAW STRING date (fidelity note)
    Qry("q02_daily_scan",
      (s, dir) => events(s, dir)
        .filter(date_format(col("ts"), "yyyy-MM-dd") === "2024-01-18")
        .select("event_id", "user_id", "event_type", "value"),
      Some("SELECT event_id, user_id, event_type, value FROM events WHERE strftime(ts, '%Y-%m-%d') = '2024-01-18'")),

    // P6/U1/U2/J1/F1-F4 — the full transaction contract as an error log
    Qry("q03_validate_contract",
      (s, dir) => dirtyTxErrors(s, dir),
      Some(dirtyTxErrorsSql)),

    // F4 — multi-format date parser over 5 synthesized formats
    Qry("q04_date_parse_multi",
      (s, dir) => {
        val d = t(s, dir, "orders").select(col("o_orderkey"),
          element_at(array(
            ymd(col("o_orderdate")),
            date_format(col("o_orderdate"), "yyyy/MM/dd"),
            date_format(col("o_orderdate"), "yyyy-MM-dd'T'HH:mm:ss'Z'"),
            date_format(col("o_orderdate"), "yyyyMMdd"),
            date_format(col("o_orderdate"), "dd-MM-yyyy")),
            (col("o_orderkey") % 5).cast("int") + 1).as("date_str"))
        d.select(col("o_orderkey"), col("date_str"),
          ymd(Rules.parseMultiDate(col("date_str"))).as("parsed"))
      },
      Some("""WITH d AS (SELECT o_orderkey,
        |  [strftime(o_orderdate, '%Y-%m-%d'), strftime(o_orderdate, '%Y/%m/%d'),
        |   strftime(o_orderdate, '%Y-%m-%dT%H:%M:%SZ'), strftime(o_orderdate, '%Y%m%d'),
        |   strftime(o_orderdate, '%d-%m-%Y')][CAST(o_orderkey % 5 AS INT) + 1] AS date_str
        |  FROM orders)
        |SELECT o_orderkey, date_str,
        |  strftime(COALESCE(try_strptime(date_str, '%Y-%m-%d'),
        |    CASE WHEN contains(date_str, '/') THEN try_strptime(date_str, '%Y/%m/%d')
        |         WHEN contains(date_str, 'T') THEN try_strptime(split_part(date_str, 'T', 1), '%Y-%m-%d')
        |         WHEN regexp_matches(date_str, '^[0-9]{8}$') THEN try_strptime(date_str, '%Y%m%d')
        |    END), '%Y-%m-%d') AS parsed
        |FROM d""".stripMargin)),

    // F5/F6/S11 — calendar dimension from the data's own dates
    Qry("q05_dim_date",
      (s, dir) => DimDate.fromDates(t(s, dir, "orders"), col("o_orderdate"))
        .select(col("date_id"), ymd(col("full_date")).as("full_date"),
          col("year"), col("month"), col("day"), col("week"), col("weekday")),
      Some("""SELECT DISTINCT CAST(strftime(o_orderdate, '%Y%m%d') AS INT) AS date_id,
        |  strftime(o_orderdate, '%Y-%m-%d') AS full_date,
        |  year(o_orderdate) AS year, month(o_orderdate) AS month, day(o_orderdate) AS day,
        |  week(o_orderdate) AS week, isodow(o_orderdate) AS weekday
        |FROM orders""".stripMargin)),

    // J2/P4/F7/F14/S6/S7 — full SCD2 merge snapshot
    Qry("q06_scd2_merge",
      (s, dir) => {
        val c = t(s, dir, "customer")
        val mkEmail = (k: Column) => concat(lit("u"), k.cast("string"), lit("@x.com"))
        val joinDate = (k: Column) => ymd(date_add(to_date(lit("1994-01-01")), (k % 365).cast("int")))
        // custkeys are dense 0..n-1, so sk = key+1 equals the reference's
        // insertion-order AUTOINCREMENT without a global-window sort
        val cur = c.select(col("c_custkey").as("user_id"), col("c_name").as("name"),
            mkEmail(col("c_custkey")).as("email"),
            to_date(joinDate(col("c_custkey"))).as("join_date"))
          .withColumn("user_sk", (col("user_id") + 1).cast("long"))
          .withColumn("start_date", to_date(lit("1995-01-01")))
          .withColumn("end_date", lit(null).cast("date"))
          .withColumn("current_flag", lit(1))
          .select("user_sk", "user_id", "name", "email", "join_date",
            "start_date", "end_date", "current_flag")
        val inc = c.select(col("c_custkey").as("user_id"),
            when(col("c_custkey") % 10 === 0, concat(col("c_name"), lit(" Jr")))
              .otherwise(col("c_name")).as("name"),
            mkEmail(col("c_custkey")).as("email"),
            to_date(joinDate(col("c_custkey"))).as("join_date"))
          .unionByName(c.filter(col("c_custkey") % 100 === 0)
            .select((col("c_custkey") + 1000000).as("user_id"),
              concat(lit("New "), col("c_custkey").cast("string")).as("name"),
              mkEmail(col("c_custkey") + 1000000).as("email"),
              to_date(lit("1998-06-01")).as("join_date")))
        Scd2(Seq("user_id"), Seq("name", "email"), "user_sk", Seq("join_date"))
          .merge(cur, inc, "1998-06-01", col("join_date"))
          .select(col("user_sk"), col("user_id"), col("name"), col("email"),
            ymd(col("join_date")).as("join_date"), ymd(col("start_date")).as("start_date"),
            ymd(col("end_date")).as("end_date"), col("current_flag"))
      },
      Some("""WITH cur AS (
        |  SELECT c_custkey + 1 AS user_sk, c_custkey AS user_id,
        |         c_name AS name, 'u' || CAST(c_custkey AS VARCHAR) || '@x.com' AS email,
        |         strftime(DATE '1994-01-01' + CAST(c_custkey % 365 AS INT), '%Y-%m-%d') AS join_date
        |  FROM customer),
        |inc AS (
        |  SELECT c_custkey AS user_id,
        |         CASE WHEN c_custkey % 10 = 0 THEN c_name || ' Jr' ELSE c_name END AS name,
        |         'u' || CAST(c_custkey AS VARCHAR) || '@x.com' AS email,
        |         strftime(DATE '1994-01-01' + CAST(c_custkey % 365 AS INT), '%Y-%m-%d') AS join_date
        |  FROM customer
        |  UNION ALL
        |  SELECT c_custkey + 1000000, 'New ' || CAST(c_custkey AS VARCHAR),
        |         'u' || CAST(c_custkey + 1000000 AS VARCHAR) || '@x.com', '1998-06-01'
        |  FROM customer WHERE c_custkey % 100 = 0),
        |changed AS (
        |  SELECT cur.user_sk, cur.user_id, cur.name, cur.email, cur.join_date,
        |         inc.name AS in_name, inc.email AS in_email, inc.join_date AS in_join
        |  FROM cur JOIN inc ON cur.user_id = inc.user_id
        |  WHERE cur.name <> inc.name OR cur.email <> inc.email),
        |unchanged AS (
        |  SELECT user_sk, user_id, name, email, join_date,
        |         '1995-01-01' AS start_date, CAST(NULL AS VARCHAR) AS end_date, 1 AS current_flag
        |  FROM cur WHERE user_id NOT IN (SELECT user_id FROM changed)),
        |expired AS (
        |  SELECT user_sk, user_id, name, email, join_date,
        |         '1995-01-01' AS start_date, '1998-05-31' AS end_date, 0 AS current_flag
        |  FROM changed),
        |freshsrc AS (
        |  SELECT user_id, in_name AS name, in_email AS email, in_join AS join_date,
        |         '1998-06-01' AS start_date FROM changed
        |  UNION ALL
        |  SELECT user_id, name, email, join_date, join_date AS start_date
        |  FROM inc WHERE user_id NOT IN (SELECT user_id FROM cur)),
        |fresh AS (
        |  SELECT (SELECT max(user_sk) FROM cur) + row_number() OVER (ORDER BY user_id) AS user_sk,
        |         user_id, name, email, join_date, start_date,
        |         CAST(NULL AS VARCHAR) AS end_date, 1 AS current_flag
        |  FROM freshsrc)
        |SELECT * FROM unchanged UNION ALL SELECT * FROM expired UNION ALL SELECT * FROM fresh""".stripMargin)),

    // J3/W2/O2 — point-in-time lookup, broadcast-array form (no fact shuffle)
    Qry("q07_pit_lookup",
      (s, dir) => AsOfJoin.pitLookup(t(s, dir, "orders"), dimUser2v(s, dir),
          col("o_custkey"), "user_id", col("o_orderdate"), Seq("user_sk", "segment"))
        .select(col("o_orderkey"), col("pit_user_sk").as("user_sk"),
          col("pit_segment").as("segment")),
      Some(s"""WITH dim AS ($dimUser2vSql)
        |SELECT o_orderkey, user_sk, segment
        |FROM orders JOIN dim ON o_custkey = user_id
        |  AND start_date <= CAST(o_orderdate AS DATE)
        |  AND (end_date IS NULL OR end_date >= CAST(o_orderdate AS DATE))
        |QUALIFY row_number() OVER (PARTITION BY o_orderkey ORDER BY start_date DESC) = 1""".stripMargin)),

    // J3 big×big — merge-formulation as-of join (one shuffle, no blowup)
    Qry("q08_asof_union",
      (s, dir) => {
        val ev = events(s, dir)
        val clicks = ev.filter(col("event_type") === "click")
          .select("event_id", "user_id", "ts")
        val purchases = ev.filter(col("event_type") === "purchase")
          .select("user_id", "ts", "value")
        AsOfJoin.asOfUnion(clicks, purchases, "user_id", "ts", "ts", Seq("value"))
          .select("event_id", "user_id", "asof_value")
      },
      Some("""SELECT e.event_id, e.user_id, p.value AS asof_value
        |FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click') e
        |ASOF LEFT JOIN (SELECT user_id, ts, value FROM events WHERE event_type = 'purchase') p
        |  ON e.user_id = p.user_id AND e.ts >= p.ts""".stripMargin)),

    // J5/S4 — anti-join against already-loaded keys
    Qry("q09_anti_join",
      (s, dir) => Dedup.antiJoinExisting(
        t(s, dir, "lineitem").select("l_orderkey", "l_linenumber", "l_quantity"),
        t(s, dir, "orders").filter(col("o_orderstatus") === "F")
          .select(col("o_orderkey").as("l_orderkey")), Seq("l_orderkey")),
      Some("""SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
        |WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders WHERE o_orderstatus = 'F')""".stripMargin)),

    // J5 scale path — the bloom-prefiltered anti-join (r14), shaped for
    // its design regime: incoming is a BOUNDED slice (one ship-month —
    // the daily-extract stand-in) dedup'd against a key set ~10× larger
    // (half the orders corpus). The bloom over incoming prunes the big
    // side's scan before its distinct/exchange; exactness is structural
    // (no false negatives; false positives fall through to the exact
    // anti-join), which is precisely what this oracle row checks — the
    // driver's DuckDB compare covers the bloom plan itself, not just the
    // FactLoadSpec identity assertions.
    Qry("q181_anti_join_bloomed",
      (s, dir) => Dedup.antiJoinExistingBloomed(
        t(s, dir, "lineitem")
          .filter("l_shipdate >= DATE '1995-03-01' AND l_shipdate < DATE '1995-04-01'")
          .select("l_orderkey", "l_linenumber", "l_quantity"),
        t(s, dir, "orders").filter(col("o_orderstatus") === "F")
          .select(col("o_orderkey").as("l_orderkey")),
        // est sized from the corpus row count × the window/domain ratio
        // a stats-backed planner would read (1 ship-month of ~84 × ~4
        // lines/order ≈ 1/300) — the bloom LITERAL ships with every task,
        // so a fixed big est would tax small corpora with MB-scale task
        // binaries for a KB-scale key set
        "l_orderkey", estItems = math.max(memoCount(s, dir, "lineitem") / 300L, 1024L)),
      Some("""SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
        |WHERE l_shipdate >= DATE '1995-03-01' AND l_shipdate < DATE '1995-04-01'
        |  AND l_orderkey NOT IN (SELECT o_orderkey FROM orders WHERE o_orderstatus = 'F')""".stripMargin)),

    // J5 sidecar path (r15) — the per-partition bloom key index probed
    // BEFORE any history read (graft.facts.TxSidecar + Dedup
    // .antiJoinExistingPartitionPruned), the operator the pipeline uses to
    // keep the daily dedup's history I/O sublinear. Fixture regime: the
    // sidecar prune pays off when incoming ids are LOCALIZED against the
    // history partitioning (the reference's daily extract has monotone
    // ids), so incoming is a fixed ORDERKEY-RANGE slice of lineitem (the
    // id-locality stand-in, as q181's ship-month is the daily-extract
    // stand-in) and the 'F'-orders history is bucketed into 64 key ranges.
    // The range check alone rules out every non-overlapping bucket at ANY
    // sf (constant scan fraction, no fpp dependence), and the per-bucket
    // blooms — constant 64k est, so the collected index stays ~4 MB at
    // every corpus size — catch interleaved keys inside overlapping
    // buckets. The oracle hash-checks the anti-join VALUES against plain
    // NOT IN over ALL 'F' orders: the prune's superset contract (a bucket
    // is scanned iff some incoming id range+bloom-hits it) is exactly
    // what makes those coincide.
    Qry("q182_anti_join_sidecar",
      (s, dir) => {
        val (hist, incoming) = sidecarFixture(s, dir)
        val sidecars = bucketBlooms(hist) // the whole 64-bucket index
        val bb = TxSidecar.buildBatchBloom(incoming, "l_orderkey", 4096L)
        val hits = TxSidecar.probeHitDates(incoming, "l_orderkey", sidecars)
        Dedup.antiJoinExistingPartitionPruned(incoming, hist, "l_orderkey",
          "kb", hits.map(_.toLong), bb.map(_.bloom))
      },
      Some("""SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
        |WHERE l_orderkey >= 1000 AND l_orderkey < 3000
        |  AND l_orderkey NOT IN (SELECT o_orderkey FROM orders WHERE o_orderstatus = 'F')""".stripMargin)),

    // J5 scale path, TIERED index state (TxSidecar.compact's read side):
    // the cold 3/4 of the bucket index is rolled up into range-only rows
    // (bloom = null — exactly what compact() writes per month), the hot
    // 1/4 keeps per-bucket blooms. The probe admits on range alone for
    // tier rows, a tier hit expands to its member buckets (coarse scan,
    // never a false negative), and the anti-join reads only the expanded
    // scan set. Same oracle as q181/q182: the prune must be invisible in
    // the result at any tiering state.
    Qry("q183_anti_join_sidecar_tiered",
      (s, dir) => {
        val (hist, incoming) = sidecarFixture(s, dir)
        // hot buckets (48..63): per-bucket bloom rows, as daily rows would be
        val hot = bucketBlooms(hist.filter(col("kb") >= 48))
        // cold buckets compacted: one RANGE row per 16-bucket group
        val cold = hist.filter(col("kb") < 48)
          .groupBy((col("kb") / 16).cast("long").as("g")).agg(
            min("l_orderkey").as("mn"), max("l_orderkey").as("mx"),
            count(lit(1)).as("n"))
          .collect().toSeq.map { r =>
            val g = r.getAs[Long]("g")
            TxSidecar.Sidecar(s"tier$g", s"tier$g", r.getAs[Long]("mn"),
              r.getAs[Long]("mx"), r.getAs[Long]("n"), null)
          }
        val bb = TxSidecar.buildBatchBloom(incoming, "l_orderkey", 4096L)
        val hits = TxSidecar.probeHitDates(incoming, "l_orderkey", hot ++ cold).toSet
        val scanKbs: Seq[Long] = hot.collect {
            case sc if hits(sc.loadDate) => Seq(sc.loadDate.toLong)
          }.flatten ++ cold.collect {
            case sc if hits(sc.loadDate) =>
              val g = sc.loadDate.stripPrefix("tier").toLong
              (g * 16L) until ((g + 1) * 16L)
          }.flatten
        Dedup.antiJoinExistingPartitionPruned(incoming, hist, "l_orderkey",
          "kb", scanKbs, bb.map(_.bloom))
      },
      Some("""SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
        |WHERE l_orderkey >= 1000 AND l_orderkey < 3000
        |  AND l_orderkey NOT IN (SELECT o_orderkey FROM orders WHERE o_orderstatus = 'F')""".stripMargin)),

    // J1 — FK-existence semi join
    Qry("q10_semi_join",
      (s, dir) => t(s, dir, "customer")
        .join(t(s, dir, "orders").select(col("o_custkey").as("c_custkey")),
          Seq("c_custkey"), "left_semi")
        .select("c_custkey", "c_name"),
      Some("SELECT c_custkey, c_name FROM customer WHERE c_custkey IN (SELECT o_custkey FROM orders)")),

    // J6/W3 — in-batch composite-PK first-wins dedup (kept side).
    // (l_linenumber alone is NOT a total order here — the generator emits a
    // handful of rows duplicated on (orderkey, partkey, linenumber) that
    // differ in quantity — so the extract-order tiebreak includes the
    // remaining columns, same as the reference's insertion-order walk.)
    Qry("q11_first_wins",
      (s, dir) => Dedup.firstWins(
        t(s, dir, "lineitem").select("l_orderkey", "l_partkey", "l_linenumber", "l_quantity"),
        Seq("l_orderkey", "l_partkey"), Seq(col("l_linenumber"), col("l_quantity")))._1,
      Some("""SELECT l_orderkey, l_partkey, l_linenumber, l_quantity FROM lineitem
        |QUALIFY row_number() OVER (PARTITION BY l_orderkey, l_partkey ORDER BY l_linenumber, l_quantity) = 1""".stripMargin)),

    // A7 — the duplicate (warning) side of the same window
    Qry("q12_dup_warnings",
      (s, dir) => Dedup.firstWins(
        t(s, dir, "lineitem").select("l_orderkey", "l_partkey", "l_linenumber", "l_quantity"),
        Seq("l_orderkey", "l_partkey"), Seq(col("l_linenumber"), col("l_quantity")))._2,
      Some("""SELECT l_orderkey, l_partkey, l_linenumber, l_quantity FROM lineitem
        |QUALIFY row_number() OVER (PARTITION BY l_orderkey, l_partkey ORDER BY l_linenumber, l_quantity) > 1""".stripMargin)),

    // P5/W1 — change-only capture (value = event_type per user over time)
    Qry("q13_changed_only",
      (s, dir) => Dedup.changedOnly(
        events(s, dir).select("event_id", "user_id", "event_type", "ts"),
        Seq("user_id"), Seq(col("ts"), col("event_id")), col("event_type"))
        .select("event_id", "user_id", "event_type"),
      // row_number + IS DISTINCT FROM mirrors the library's null semantics
      // exactly: first row per key always records (even null), later rows
      // record only on a NULL-SAFE change — `lag IS NULL` would diverge on
      // consecutive null values (keeps them) and on non-null→null (drops)
      Some("""SELECT event_id, user_id, event_type FROM events
        |QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) = 1
        |     OR event_type IS DISTINCT FROM lag(event_type)
        |          OVER (PARTITION BY user_id ORDER BY ts, event_id)""".stripMargin)),

    // A6/O2 — latest value per group (top-1 desc window)
    Qry("q14_last_per_group",
      (s, dir) => {
        val w = Window.partitionBy("l_partkey")
          .orderBy(col("l_shipdate").desc, col("l_orderkey").desc,
            col("l_linenumber").desc, col("l_quantity").desc)
        t(s, dir, "lineitem")
          .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
          .select(col("l_partkey"), col("l_quantity").as("last_qty"),
            ymd(col("l_shipdate")).as("last_ship"))
      },
      Some("""SELECT l_partkey, l_quantity AS last_qty, strftime(l_shipdate, '%Y-%m-%d') AS last_ship
        |FROM lineitem
        |QUALIFY row_number() OVER (PARTITION BY l_partkey
        |  ORDER BY l_shipdate DESC, l_orderkey DESC, l_linenumber DESC, l_quantity DESC) = 1""".stripMargin)),

    // A3/O5 — DQ rollup over the contract's error log
    Qry("q15_dq_rollup",
      (s, dir) => dirtyTxErrors(s, dir)
        .groupBy("error_type", "severity").agg(count(lit(1)).as("n"))
        .orderBy(desc("n"), col("error_type")),
      Some(s"""WITH errors AS ($dirtyTxErrorsSql)
        |SELECT error_type, severity, CAST(count(*) AS BIGINT) AS n
        |FROM errors GROUP BY error_type, severity""".stripMargin)),

    // A1/L5 — run-summary table counts
    Qry("q16_table_counts",
      (s, dir) => Seq("customer", "orders", "lineitem", "part", "supplier")
        .map(n => t(s, dir, n).agg(count(lit(1)).as("n")).select(lit(n).as("table_name"), col("n")))
        .reduce(_ unionByName _),
      Some("""SELECT 'customer' AS table_name, CAST(count(*) AS BIGINT) AS n FROM customer
        |UNION ALL SELECT 'orders', CAST(count(*) AS BIGINT) FROM orders
        |UNION ALL SELECT 'lineitem', CAST(count(*) AS BIGINT) FROM lineitem
        |UNION ALL SELECT 'part', CAST(count(*) AS BIGINT) FROM part
        |UNION ALL SELECT 'supplier', CAST(count(*) AS BIGINT) FROM supplier""".stripMargin)),

    // A4 — next-id allocation
    Qry("q17_max_id",
      (s, dir) => t(s, dir, "orders").agg((max("o_orderkey") + 1).as("next_id")),
      Some("SELECT max(o_orderkey) + 1 AS next_id FROM orders")),

    // O2/O3 — global top-k with deterministic tiebreak
    Qry("q18_topk_global",
      (s, dir) => t(s, dir, "orders")
        .orderBy(desc("o_totalprice"), col("o_orderkey")).limit(10)
        .select("o_orderkey", "o_totalprice"),
      Some("SELECT o_orderkey, o_totalprice FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10")),

    // THE FLAGSHIP — composed fact-transaction load (J5+J3+J6+F5+dim_date)
    Qry("q19_fact_tx_load",
      (s, dir) => {
        val o = t(s, dir, "orders")
        val validTx0 = o.select(
          col("o_orderkey").as("transaction_id"), ymd(col("o_orderdate")).as("date"),
          when(col("o_orderkey") % 23 === 0, col("o_custkey") + 1000000)
            .otherwise(col("o_custkey")).as("user_id"),
          when(col("o_orderkey") % 29 === 0, lit(999999999L))
            .otherwise(col("o_orderkey") % 2000).as("product_id"),
          ((col("o_orderkey") % 5).cast("int") + 1).as("quantity"),
          col("o_totalprice").as("price"),
          lit("visa").as("payment_type"), lit("success").as("status"))
        val validTx = validTx0.unionByName(validTx0.filter(col("transaction_id") % 31 === 0))
        val dimProduct = t(s, dir, "part").select(
          (col("p_partkey") + 1).as("product_sk"), col("p_partkey").as("product_id"),
          to_date(lit("1992-01-01")).as("start_date"), lit(null).cast("date").as("end_date"))
        val existing = o.filter(col("o_orderkey") % 5 === 0)
          .select(col("o_orderkey").as("transaction_id"))
        // no sidecar index here: this fixture feeds the WHOLE corpus as one
        // "batch" (155M rows at sf100) against a smaller existing set, so
        // the load takes the plain exact anti-join (a batch-bloom build
        // over incoming would cost more than the exchange it prunes;
        // measured +30% at sf100). The sidecar path is q182's.
        val (facts, _, _) = TxLoad.load(validTx, dimUser2v(s, dir), dimProduct,
          existing, "2002-01-01")
        facts.withColumn("load_date", ymd(col("load_date")))
      },
      Some(s"""WITH dim_user AS ($dimUser2vSql),
        |vt0 AS (
        |  SELECT o_orderkey AS transaction_id, strftime(o_orderdate, '%Y-%m-%d') AS date,
        |    CASE WHEN o_orderkey % 23 = 0 THEN o_custkey + 1000000 ELSE o_custkey END AS user_id,
        |    CASE WHEN o_orderkey % 29 = 0 THEN 999999999 ELSE o_orderkey % 2000 END AS product_id,
        |    CAST(o_orderkey % 5 AS INT) + 1 AS quantity, o_totalprice AS price,
        |    'visa' AS payment_type, 'success' AS status
        |  FROM orders),
        |vt AS (SELECT * FROM vt0 UNION ALL SELECT * FROM vt0 WHERE transaction_id % 31 = 0),
        |fresh AS (SELECT DISTINCT * FROM vt
        |  WHERE transaction_id NOT IN (SELECT o_orderkey FROM orders WHERE o_orderkey % 5 = 0)),
        |withu AS (
        |  SELECT f.*, d.user_sk FROM fresh f JOIN dim_user d ON f.user_id = d.user_id
        |    AND d.start_date <= CAST(strptime(f.date, '%Y-%m-%d') AS DATE)
        |    AND (d.end_date IS NULL OR d.end_date >= CAST(strptime(f.date, '%Y-%m-%d') AS DATE))
        |  QUALIFY row_number() OVER (PARTITION BY f.transaction_id, f.product_id
        |    ORDER BY d.start_date DESC) = 1),
        |withp AS (
        |  SELECT w.*, p.p_partkey + 1 AS product_sk
        |  FROM withu w JOIN part p ON w.product_id = p.p_partkey)
        |SELECT transaction_id, user_sk, product_sk,
        |       CAST(replace(date, '-', '') AS INT) AS date_id, quantity, price AS total,
        |       payment_type, status, '2002-01-01' AS load_date
        |FROM withp""".stripMargin)),

    // P5/J2 composed — change-only stock snapshot load
    Qry("q20_stock_history",
      (s, dir) => {
        val p = t(s, dir, "part")
        val validProducts = p.select(col("p_partkey").as("product_id"),
          col("p_name").as("name"), col("p_brand").as("category"),
          col("p_retailprice").as("price"), col("p_size").as("stock"))
        val dimProduct = p.filter(col("p_partkey") % 19 =!= 0).select(
          (col("p_partkey") + 1).as("product_sk"), col("p_partkey").as("product_id"),
          lit(1).as("current_flag"))
        val existing = p.filter(col("p_partkey") % 3 === 0).select(
          (col("p_partkey") + 1).as("product_sk"), lit(20020101).as("date_id"),
          when(col("p_partkey") % 6 === 0, col("p_size")).otherwise(col("p_size") + 1)
            .as("stock"), to_date(lit("2002-01-01")).as("load_date"))
        val (inserts, _) = StockHistory.load(validProducts, dimProduct, existing, "2002-01-02")
        inserts.withColumn("load_date", ymd(col("load_date")))
      },
      Some("""WITH dim AS (SELECT p_partkey + 1 AS product_sk, p_partkey AS product_id
        |  FROM part WHERE p_partkey % 19 <> 0),
        |existing AS (SELECT p_partkey + 1 AS product_sk,
        |  CASE WHEN p_partkey % 6 = 0 THEN p_size ELSE p_size + 1 END AS stock
        |  FROM part WHERE p_partkey % 3 = 0)
        |SELECT d.product_sk, 20020102 AS date_id, p.p_size AS stock, '2002-01-02' AS load_date
        |FROM part p JOIN dim d ON p.p_partkey = d.product_id
        |LEFT JOIN existing e ON d.product_sk = e.product_sk
        |WHERE e.stock IS NULL OR e.stock <> p.p_size""".stripMargin)),

    // J7 — referential-integrity audit counts
    Qry("q21_ref_integrity",
      (s, dir) => {
        def orphans(fact: DataFrame, key: String, dim: DataFrame, dimKey: String, name: String) =
          fact.join(dim.select(col(dimKey).as(key)), Seq(key), "left_anti")
            .agg(count(lit(1)).as("n")).select(lit(name).as("check_name"), col("n"))
        orphans(t(s, dir, "lineitem"), "l_partkey", t(s, dir, "part"), "p_partkey", "lineitem_part")
          .unionByName(orphans(t(s, dir, "lineitem"), "l_suppkey", t(s, dir, "supplier"),
            "s_suppkey", "lineitem_supplier"))
          .unionByName(orphans(t(s, dir, "orders"), "o_custkey", t(s, dir, "customer"),
            "c_custkey", "orders_customer"))
      },
      Some("""SELECT 'lineitem_part' AS check_name, CAST(count(*) AS BIGINT) AS n
        |  FROM lineitem WHERE l_partkey NOT IN (SELECT p_partkey FROM part)
        |UNION ALL SELECT 'lineitem_supplier', CAST(count(*) AS BIGINT)
        |  FROM lineitem WHERE l_suppkey NOT IN (SELECT s_suppkey FROM supplier)
        |UNION ALL SELECT 'orders_customer', CAST(count(*) AS BIGINT)
        |  FROM orders WHERE o_custkey NOT IN (SELECT c_custkey FROM customer)""".stripMargin)),

    // SK bootstrap — scalable init (no global window; SKs dense by key)
    Qry("q22_scd2_init",
      (s, dir) => Scd2(Seq("user_id"), Seq("name", "segment"), "user_sk")
        .init(t(s, dir, "customer").select(col("c_custkey").as("user_id"),
          col("c_name").as("name"), col("c_mktsegment").as("segment")),
          lit("1995-01-01"))
        .select(col("user_sk"), col("user_id"), col("name"), col("segment"),
          ymd(col("start_date")).as("start_date"), col("current_flag")),
      Some("""SELECT row_number() OVER (ORDER BY c_custkey) AS user_sk, c_custkey AS user_id,
        |  c_name AS name, c_mktsegment AS segment, '1995-01-01' AS start_date, 1 AS current_flag
        |FROM customer""".stripMargin)),

    // A2 — severity counts over the contract error log
    Qry("q23_severity_counts",
      (s, dir) => dirtyTxErrors(s, dir).groupBy("severity").agg(count(lit(1)).as("n")),
      Some(s"""WITH errors AS ($dirtyTxErrorsSql)
        |SELECT severity, CAST(count(*) AS BIGINT) AS n FROM errors GROUP BY severity""".stripMargin)),

    // window frames — running count + exact-cents running sum per customer
    Qry("q24_running_totals",
      (s, dir) => {
        val w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        t(s, dir, "orders")
          .withColumn("cents", round(col("o_totalprice") * 100, 0).cast("long"))
          .select(col("o_orderkey"), col("o_custkey"),
            count(lit(1)).over(w).as("run_cnt"), sum("cents").over(w).as("run_cents"))
      },
      Some("""SELECT o_orderkey, o_custkey,
        |  CAST(count(*) OVER w AS BIGINT) AS run_cnt,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) OVER w AS BIGINT) AS run_cents
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |  ROWS UNBOUNDED PRECEDING)""".stripMargin)),

    // TPC-H Q1-shaped grouped aggregate with exact integer arithmetic.
    // Native DateType compare (not a date_format string compare) so the
    // predicate reaches the parquet scan and row-group stats prune — at
    // 100 TB the string form is a full-table scan (VERDICT r2 #2).
    Qry("q25_pricing_summary",
      (s, dir) => t(s, dir, "lineitem")
        .filter(col("l_shipdate") <= to_date(lit("1998-09-02")))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(sum(col("l_quantity").cast("long")).as("sum_qty"),
          sum(round(col("l_extendedprice") * 100, 0).cast("long")).as("sum_base_cents"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus"),
      Some("""SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
        |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_base_cents,
        |  CAST(count(*) AS BIGINT) AS count_order
        |FROM lineitem WHERE strftime(l_shipdate, '%Y-%m-%d') <= '1998-09-02'
        |GROUP BY l_returnflag, l_linestatus""".stripMargin)),

    // S13 — deterministic synthetic valid-data generator (md5-keyed PRNG,
    // distributed via spark.range — no driver loops; reproducible on any
    // engine, which is what makes an oracle possible at all)
    Qry("q41_synthetic_users",
      (s, _) => Synthetic.users(s, 200),
      Some(s"""SELECT id AS user_id, 'User ' || CAST(id AS VARCHAR) AS name,
        |  'user' || CAST(id AS VARCHAR) || '@example.com' AS email,
        |  strftime(DATE '2024-01-01' + CAST(floor(
        |    ${Synthetic.rndSql("join", "id")} * 700) AS INT), '%Y-%m-%d') AS join_date
        |FROM range(1, 201) t(id)""".stripMargin)),

    // S14 — the adversarial transaction corpus (9 injected error kinds)
    Qry("q42_synthetic_invalid_tx",
      (s, _) => Synthetic.invalid(s, "2025-03-01", 50, 20)._3,
      Some(Synthetic.invalidTxSql("2025-03-01", 50, 20))),

    // O4/F11 — seeded "ORDER BY RANDOM() LIMIT 1" per group: the
    // reference's random row picks (populate.py mutation sampling) made
    // deterministic by ranking on a seeded md5 — same answer on any
    // engine, still uniform over the group
    Qry("q43_seeded_sample",
      (s, dir) => {
        val w = Window.partitionBy("c_nationkey")
          .orderBy(md5(concat(lit("7|"), col("c_custkey").cast("string"))), col("c_custkey"))
        t(s, dir, "customer")
          .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
          .select("c_nationkey", "c_custkey", "c_name")
      },
      Some("""SELECT c_nationkey, c_custkey, c_name FROM customer
        |QUALIFY row_number() OVER (PARTITION BY c_nationkey
        |  ORDER BY md5('7|' || CAST(c_custkey AS VARCHAR)), c_custkey) = 1""".stripMargin)),

    // skew-safe salted join — result must equal the plain equi-join (the
    // salt is an execution detail, invisible in the output)
    Qry("q46_salted_join",
      (s, dir) => {
        val li = t(s, dir, "lineitem").select(col("l_orderkey"), col("l_quantity"))
        val o = t(s, dir, "orders").select(col("o_orderkey").as("l_orderkey"), col("o_totalprice"))
        graft.ops.Skew.saltedJoinHotKeys(li, o, Seq("l_orderkey"),
          buckets = 8, hotThreshold = 5)
      },
      Some("""SELECT l.l_orderkey, l.l_quantity, o.o_totalprice
        |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey""".stripMargin)),

    // bucketed co-located join — one shuffle paid at write, zero at query;
    // output equals the plain join (bucketing is pure physical layout)
    Qry("q47_bucketed_join",
      (s, dir) => {
        // % 4 slice: the point is proving the bucketed layout's zero-
        // exchange join, not re-timing a full-table write every bench run
        val li = t(s, dir, "lineitem").filter(col("l_orderkey") % 4 === 1)
          .select(col("l_orderkey"), col("l_partkey"), col("l_quantity"))
        val o = t(s, dir, "orders").filter(col("o_orderkey") % 4 === 1)
          .select(col("o_orderkey").as("l_orderkey"), col("o_totalprice"))
        graft.ops.Bucketing.writeBucketed(li, "q47_li", Seq("l_orderkey"), 8)
        graft.ops.Bucketing.writeBucketed(o, "q47_o", Seq("l_orderkey"), 8)
        graft.ops.Bucketing.read(s, "q47_li")
          .join(graft.ops.Bucketing.read(s, "q47_o"), Seq("l_orderkey"))
      },
      Some("""SELECT l.l_orderkey, l.l_partkey, l.l_quantity, o.o_totalprice
        |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |WHERE l.l_orderkey % 4 = 1""".stripMargin)),

    // TPC-H Q3-shaped 3-way join + agg + top-k: the classic analytics plan
    // (selective dim filter -> broadcast, fact join, grouped agg in exact
    // cents, deterministic global top-10)
    Qry("q48_shipping_priority",
      (s, dir) => {
        val cust = t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
          .select(col("c_custkey"))
        // native DateType compares: pushed to the scan (PushedFilters shows
        // LessThan/GreaterThan on the date column), unlike the date_format
        // string form which defeats row-group pruning
        val ord = t(s, dir, "orders").filter(col("o_orderdate") < to_date(lit("1995-03-15")))
          .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"))
        val li = t(s, dir, "lineitem").filter(col("l_shipdate") > to_date(lit("1995-03-15")))
          .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
        li.join(ord, col("l_orderkey") === col("o_orderkey"))
          .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
          .withColumn("rev_cents",
            round(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * 100, 0).cast("long"))
          .groupBy(col("l_orderkey"), ymd(col("o_orderdate")).as("o_orderdate"))
          .agg(sum("rev_cents").as("revenue_cents"))
          .orderBy(desc("revenue_cents"), col("l_orderkey")).limit(10)
      },
      Some("""SELECT l_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
        |  CAST(sum(CAST(round(l_extendedprice * (1.0 - l_discount) * 100) AS BIGINT)) AS BIGINT)
        |    AS revenue_cents
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND strftime(o_orderdate, '%Y-%m-%d') < '1995-03-15'
        |  AND strftime(l_shipdate, '%Y-%m-%d') > '1995-03-15'
        |GROUP BY l_orderkey, o_orderdate
        |ORDER BY revenue_cents DESC, l_orderkey LIMIT 10""".stripMargin)),

    // TPC-H Q18-shaped HAVING filter: aggregate -> threshold -> semi-join
    // back to detail (the "large orders" pattern; agg side is key-sized so
    // AQE broadcasts it into the detail join)
    Qry("q49_large_orders",
      (s, dir) => {
        val big = t(s, dir, "lineitem")
          .groupBy("l_orderkey")
          .agg(sum(col("l_quantity").cast("long")).as("total_qty"))
          .filter(col("total_qty") >= 150)
        t(s, dir, "orders")
          .join(big, col("o_orderkey") === col("l_orderkey"))
          .select(col("o_orderkey"), col("o_custkey"),
            ymd(col("o_orderdate")).as("o_orderdate"), col("total_qty"))
      },
      Some("""SELECT o_orderkey, o_custkey, strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
        |  CAST(total_qty AS BIGINT) AS total_qty
        |FROM orders JOIN (
        |  SELECT l_orderkey, sum(CAST(l_quantity AS BIGINT)) AS total_qty
        |  FROM lineitem GROUP BY l_orderkey HAVING total_qty >= 150
        |) ON o_orderkey = l_orderkey""".stripMargin)),

    // calendar-dimension rollup: facts joined through dim_date derivation
    // (year/week grain), exact-cents measures — the star-schema read path
    Qry("q50_weekly_sales",
      (s, dir) => t(s, dir, "orders")
        .select(col("o_orderdate"), col("o_totalprice"))
        .withColumn("iso_year", expr("extract(YEAROFWEEK FROM o_orderdate)").cast("int"))
        .withColumn("iso_week", weekofyear(col("o_orderdate")))
        .groupBy("iso_year", "iso_week")
        .agg(count(lit(1)).as("n_orders"),
          sum(round(col("o_totalprice") * 100, 0).cast("long")).as("cents"))
        .orderBy("iso_year", "iso_week"),
      Some("""SELECT CAST(isoyear(o_orderdate) AS INT) AS iso_year,
        |  CAST(weekofyear(o_orderdate) AS INT) AS iso_week,
        |  CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
        |FROM orders GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // ROLLUP super-aggregates with grouping_id — the OLAP subtotal read
    // path over the star schema (year × priority, exact cents); DuckDB's
    // GROUPING(a,b) uses the same bitmask as Spark's grouping_id
    Qry("q63_rollup_totals",
      (s, dir) => t(s, dir, "orders")
        .select(year(col("o_orderdate")).as("yr"),
          col("o_orderpriority").as("prio"),
          round(col("o_totalprice") * 100, 0).cast("long").as("cents"))
        .rollup("yr", "prio")
        .agg(grouping_id().as("gid"), count(lit(1)).as("n"), sum("cents").as("cents")),
      Some("""SELECT CAST(year(o_orderdate) AS INT) AS yr, o_orderpriority AS prio,
        |  CAST(GROUPING(yr, prio) AS BIGINT) AS gid,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
        |FROM orders GROUP BY ROLLUP(yr, prio)""".stripMargin)),

    // exact interpolated quantiles per group via the TWO-exchange
    // value-histogram operator ([[graft.ops.Quantiles]]) — the naive
    // `percentile(cents, q)` buffers every group value in one aggregation
    // buffer, an executor OOM for large groups at 100 TB; this computes
    // the identical interpolated value (same Percentile arithmetic, same
    // quantile_cont oracle) from a groupBy(value).count histogram plus
    // one cumulative pass over the distinct-cents grain — every
    // requested quantile falls out of the same two exchanges
    Qry("q64_quantiles",
      (s, dir) => {
        val o = t(s, dir, "orders")
          .select(col("o_orderpriority").as("prio"),
            round(col("o_totalprice") * 100, 0).cast("long").as("cents"))
        graft.ops.Quantiles.valueHistogramQuantiles(o, Seq("prio"), "cents",
            Seq("p50" -> 0.5, "p95" -> 0.95), countCol = Some("n"))
          .select(col("prio"), col("p50"), col("p95"), col("n"))
      },
      Some("""SELECT o_orderpriority AS prio,
        |  quantile_cont(CAST(round(o_totalprice * 100) AS BIGINT), 0.5) AS p50,
        |  quantile_cont(CAST(round(o_totalprice * 100) AS BIGINT), 0.95) AS p95,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM orders GROUP BY 1""".stripMargin)),

    // pivot (long → wide): order counts by year × status; the oracle's
    // count(CASE...) yields 0 where the pivot fills null, so the Spark
    // side zero-fills to match
    Qry("q65_pivot_status",
      (s, dir) => t(s, dir, "orders")
        .select(year(col("o_orderdate")).as("yr"), col("o_orderstatus"))
        .groupBy("yr").pivot("o_orderstatus", Seq("F", "O", "P"))
        .agg(count(lit(1)))
        .na.fill(0L, Seq("F", "O", "P")),
      Some("""SELECT CAST(year(o_orderdate) AS INT) AS yr,
        |  CAST(count(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS BIGINT) AS "F",
        |  CAST(count(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS BIGINT) AS "O",
        |  CAST(count(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS BIGINT) AS "P"
        |FROM orders GROUP BY 1""".stripMargin)),

    // month-over-month trend: lag window + exact COUNT(DISTINCT) — the
    // remaining analytics window/aggregate shapes (neither appears
    // elsewhere in the registry)
    Qry("q66_monthly_trend",
      (s, dir) => {
        // exact distinct split out of the sum aggregate: combined they
        // plan an Expand that doubles every shuffled order row (the q112
        // lesson); two aggregates joined on the month grain shuffle half
        val o = t(s, dir, "orders")
          .select(date_format(col("o_orderdate"), "yyyy-MM").as("month"),
            col("o_custkey"),
            round(col("o_totalprice") * 100, 0).cast("long").as("cents"))
        val monthly = o.groupBy("month").agg(sum("cents").as("cents"))
          .join(o.groupBy("month", "o_custkey").agg(count(lit(1)).as("__o"))
            .groupBy("month").agg(count(lit(1)).as("n_customers")), Seq("month"))
        val w = Window.orderBy("month")
        monthly
          .withColumn("prev_cents", lag("cents", 1).over(w))
          .withColumn("delta_cents", col("cents") - col("prev_cents"))
      },
      Some("""WITH m AS (SELECT strftime(o_orderdate, '%Y-%m') AS month,
        |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents,
        |    CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_customers
        |  FROM orders GROUP BY 1)
        |SELECT month, cents, n_customers,
        |  lag(cents) OVER (ORDER BY month) AS prev_cents,
        |  cents - lag(cents) OVER (ORDER BY month) AS delta_cents
        |FROM m""".stripMargin)),

    // CUBE super-aggregates (all four grouping combinations) — the
    // complement of q63's ROLLUP; same bitmask contract between Spark
    // grouping_id() and DuckDB GROUPING()
    Qry("q74_cube_totals",
      (s, dir) => t(s, dir, "orders")
        .select(year(col("o_orderdate")).as("yr"),
          col("o_orderstatus").as("status"),
          round(col("o_totalprice") * 100, 0).cast("long").as("cents"))
        .cube("yr", "status")
        .agg(grouping_id().as("gid"), count(lit(1)).as("n"), sum("cents").as("cents")),
      Some("""SELECT CAST(year(o_orderdate) AS INT) AS yr, o_orderstatus AS status,
        |  CAST(GROUPING(yr, status) AS BIGINT) AS gid,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
        |FROM orders GROUP BY CUBE(yr, status)""".stripMargin)),

    // correlated EXISTS subquery through the SQL surface (temp views +
    // spark.sql) — Catalyst decorrelates it into a left-semi hash join on
    // l_orderkey, so the "subquery per row" never happens at any scale;
    // the date range prunes the orders scan.
    Qry("q75_exists_orders",
      (s, dir) => {
        t(s, dir, "orders").createOrReplaceTempView("g_orders")
        t(s, dir, "lineitem").createOrReplaceTempView("g_lineitem")
        s.sql("""SELECT o_orderpriority, count(*) AS n_orders
          FROM g_orders
          WHERE o_orderdate >= DATE '1995-01-01' AND o_orderdate < DATE '1995-07-01'
            AND EXISTS (SELECT 1 FROM g_lineitem
                        WHERE l_orderkey = o_orderkey AND l_discount > 0.05)
          GROUP BY o_orderpriority""")
      },
      Some("""SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders
        |FROM orders
        |WHERE o_orderdate >= DATE '1995-01-01' AND o_orderdate < DATE '1995-07-01'
        |  AND EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey AND l_discount > 0.05)
        |GROUP BY o_orderpriority""".stripMargin)),

    // 7-day moving average over the daily revenue series — a RANGE frame
    // keyed on day number, so date gaps widen the window correctly where
    // a ROWS frame would silently span them. The global-order window runs
    // AFTER the daily aggregate (a few thousand rows at any corpus size);
    // the fact-table pass is the parallel groupBy
    Qry("q76_moving_avg",
      (s, dir) => {
        val daily = t(s, dir, "orders")
          .groupBy(col("o_orderdate").cast("date").as("d"))
          .agg(sum(round(col("o_totalprice") * 100, 0).cast("long")).as("cents"))
        val w = Window.orderBy("dn").rangeBetween(-6, 0)
        daily.withColumn("dn", datediff(col("d"), lit("1995-01-01").cast("date")))
          .withColumn("avg7_cents", round(avg("cents").over(w), 4))
          .select(date_format(col("d"), "yyyy-MM-dd").as("d"),
            col("cents"), col("avg7_cents"))
      },
      Some("""WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS d,
        |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
        |  FROM orders GROUP BY 1)
        |SELECT strftime(d, '%Y-%m-%d') AS d, cents,
        |  round(avg(cents) OVER (ORDER BY d RANGE BETWEEN INTERVAL 6 DAYS PRECEDING
        |    AND CURRENT ROW), 4) AS avg7_cents
        |FROM daily""".stripMargin)),

    // ntile deciles WITHIN nation — the window is partitioned (one shuffle
    // on nationkey), never the single-partition global sort a bare
    // ntile-over-everything would be; the grouped output is nation × decile
    Qry("q77_ntile_deciles",
      (s, dir) => t(s, dir, "customer")
        .select(col("c_nationkey"), col("c_custkey"),
          round(col("c_acctbal") * 100, 0).cast("long").as("bal_cents"))
        .withColumn("decile", ntile(10).over(
          Window.partitionBy("c_nationkey").orderBy(col("bal_cents"), col("c_custkey"))))
        .groupBy("c_nationkey", "decile")
        .agg(count(lit(1)).as("n"), min("bal_cents").as("lo"), max("bal_cents").as("hi")),
      Some("""WITH d AS (SELECT c_nationkey, c_custkey,
        |    CAST(round(c_acctbal * 100) AS BIGINT) AS bal_cents,
        |    ntile(10) OVER (PARTITION BY c_nationkey
        |      ORDER BY CAST(round(c_acctbal * 100) AS BIGINT), c_custkey) AS decile
        |  FROM customer)
        |SELECT c_nationkey, CAST(decile AS INT) AS decile,
        |  CAST(count(*) AS BIGINT) AS n, min(bal_cents) AS lo, max(bal_cents) AS hi
        |FROM d GROUP BY 1, 2""".stripMargin)),

    // multiset difference (EXCEPT ALL): per-customer surplus of finished
    // over open orders, multiplicity preserved — Catalyst lowers exceptAll
    // to a count-aggregate + generate, one shuffle per side
    Qry("q78_multiset_except",
      (s, dir) => {
        def ks(st: String) = t(s, dir, "orders")
          .filter(col("o_orderstatus") === st).select("o_custkey")
        ks("F").exceptAll(ks("O"))
      },
      Some("""SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
        |EXCEPT ALL
        |SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'""".stripMargin)),

    // array aggregation: per-order sorted part basket (collect_list +
    // sort_array), serialized to a string so both engines compare the same
    // canonical form — the market-basket input shape
    Qry("q79_order_baskets",
      (s, dir) => t(s, dir, "lineitem")
        .groupBy(col("l_orderkey"))
        .agg(concat_ws(",", sort_array(collect_list(col("l_partkey")))).as("parts"),
          count(lit(1)).as("n_items")),
      Some("""SELECT l_orderkey,
        |  array_to_string(list_sort(list(l_partkey)), ',') AS parts,
        |  CAST(count(*) AS BIGINT) AS n_items
        |FROM lineitem GROUP BY 1""".stripMargin)),

    // schema-evolution union: two parquet "eras" of the part table (the
    // old shard lacks price) merged with unionByName(allowMissingColumns)
    // — the ingestion contract when a 100 TB lake carries years of
    // written-once files with drifting schemas; missing columns null-fill
    Qry("q80_schema_evolution",
      (s, dir) => {
        val p = t(s, dir, "part")
        val v1 = p.filter(col("p_partkey") % 2 === 0)
          .select(col("p_partkey"), col("p_name"))
        val v2 = p.filter(col("p_partkey") % 2 === 1)
          .select(col("p_partkey"), col("p_name"),
            round(col("p_retailprice") * 100, 0).cast("long").as("price_cents"))
        v1.unionByName(v2, allowMissingColumns = true)
      },
      Some("""SELECT p_partkey, p_name, NULL::BIGINT AS price_cents
        |FROM part WHERE p_partkey % 2 = 0
        |UNION ALL
        |SELECT p_partkey, p_name, CAST(round(p_retailprice * 100) AS BIGINT)
        |FROM part WHERE p_partkey % 2 = 1""".stripMargin)),

    // null-safe equi-join (<=>): the warehouse unknown-member pattern —
    // facts with a NULL key land on the dim's sentinel row instead of
    // silently dropping. Spark plans EqualNullSafe as a HASH join key
    // (not a cartesian filter), so the shape survives scale; the single
    // null dim row broadcasts with the rest of the dim
    Qry("q81_null_safe_join",
      (s, dir) => {
        val dim = t(s, dir, "customer").select(col("c_custkey").as("k"), col("c_name"))
          .unionByName(s.range(1).select(
            lit(null).cast("long").as("k"), lit("UNKNOWN").as("c_name")))
        val facts = t(s, dir, "orders").select(
          when(col("o_custkey") % 13 === 0, lit(null)).otherwise(col("o_custkey"))
            .cast("long").as("k"),
          col("o_orderkey"))
        facts.join(dim, facts("k") <=> dim("k"))
          .select(col("o_orderkey"), col("c_name"))
      },
      Some("""WITH dim AS (SELECT c_custkey AS k, c_name FROM customer
        |    UNION ALL SELECT NULL, 'UNKNOWN'),
        |f AS (SELECT CASE WHEN o_custkey % 13 = 0 THEN NULL
        |    ELSE o_custkey END AS k, o_orderkey FROM orders)
        |SELECT f.o_orderkey, dim.c_name
        |FROM f JOIN dim ON f.k IS NOT DISTINCT FROM dim.k""".stripMargin)),

    // exact integer moments: mean/variance from BIGINT power sums, so the
    // result is bit-identical across engines — float stddev_samp/var_samp
    // accumulate in engine-specific order and can NOT be hash-compared;
    // this is the deterministic formulation (quantities are whole numbers).
    // The variance NUMERATOR (n·ss − s²) runs in decimal(38,0): s ≈ 5e9 at
    // sf100, so s² ≈ 2.5e19 overflows BIGINT even though every OUTPUT
    // column still fits (the sf100 full sweep found it, VERDICT r11 #1);
    // the decimal→double cast is exact at any oracle-checked scale.
    Qry("q84_exact_moments",
      (s, dir) => t(s, dir, "lineitem")
        .select(col("l_returnflag"), col("l_quantity").cast("long").as("q"))
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"), sum("q").as("s"),
          sum(col("q") * col("q")).as("ss"))
        .select(col("l_returnflag"), col("n"), col("s"), col("ss"),
          round(col("s").cast("double") / col("n"), 6).as("mean_q"),
          round((col("n").cast("decimal(38,0)") * col("ss").cast("decimal(38,0)")
              - col("s").cast("decimal(38,0)") * col("s").cast("decimal(38,0)"))
              .cast("double")
            / (col("n").cast("decimal(38,0)")
              * (col("n") - 1).cast("decimal(38,0)")).cast("double"), 6)
            .as("var_q")),
      Some("""WITH m AS (SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS s,
        |    CAST(sum(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT)) AS BIGINT) AS ss
        |  FROM lineitem GROUP BY 1)
        |SELECT l_returnflag, n, s, ss,
        |  round(CAST(s AS DOUBLE) / n, 6) AS mean_q,
        |  round(CAST(CAST(n AS HUGEINT) * CAST(ss AS HUGEINT)
        |      - CAST(s AS HUGEINT) * CAST(s AS HUGEINT) AS DOUBLE)
        |    / CAST(n * (n - 1) AS DOUBLE), 6) AS var_q
        |FROM m""".stripMargin)),

    // percent_rank within nation (deterministic: the order has a full
    // tiebreak) — cumulative-distribution ranking at one shuffle
    Qry("q85_percent_rank",
      (s, dir) => t(s, dir, "customer")
        .select(col("c_nationkey"), col("c_custkey"),
          round(col("c_acctbal") * 100, 0).cast("long").as("bal_cents"))
        .withColumn("pr", round(percent_rank().over(
          Window.partitionBy("c_nationkey").orderBy("bal_cents", "c_custkey")), 6)),
      Some("""SELECT c_nationkey, c_custkey,
        |  CAST(round(c_acctbal * 100) AS BIGINT) AS bal_cents,
        |  round(percent_rank() OVER (PARTITION BY c_nationkey
        |    ORDER BY CAST(round(c_acctbal * 100) AS BIGINT), c_custkey), 6) AS pr
        |FROM customer""".stripMargin)),

    // record-linkage distance: levenshtein over adjacent-key candidate
    // pairs — the fuzzy-match primitive; banding on an id keeps the pair
    // count linear (a real pipeline blocks on zip/sorted-neighborhood the
    // same way). Both engines run the classic DP, integer-exact.
    Qry("q86_fuzzy_link",
      (s, dir) => {
        val c = t(s, dir, "customer").select(col("c_custkey"), col("c_name"))
        val a = c.select(col("c_custkey").as("k"), col("c_name").as("name_a"))
        val b = c.select((col("c_custkey") - 1).as("k"), col("c_name").as("name_b"))
        a.join(b, Seq("k"))
          .select(col("k"), levenshtein(col("name_a"), col("name_b")).as("dist"))
      },
      Some("""SELECT a.c_custkey AS k, levenshtein(a.c_name, b.c_name) AS dist
        |FROM customer a JOIN customer b ON b.c_custkey = a.c_custkey + 1""".stripMargin)),

    // calendar scaffold + gap fill: generate the full date spine from the
    // observed bounds (sequence/explode off a 1-row aggregate — broadcast,
    // never a driver loop), left-join the daily series, zero-fill gaps
    Qry("q87_calendar_scaffold",
      (s, dir) => {
        val daily = t(s, dir, "orders")
          .groupBy(col("o_orderdate").cast("date").as("d"))
          .agg(sum(round(col("o_totalprice") * 100, 0).cast("long")).as("cents"))
        val spine = daily.agg(min("d").as("d0"), max("d").as("d1"))
          .select(explode(sequence(col("d0"), col("d1"), expr("interval 1 day"))).as("d"))
        spine.join(daily, Seq("d"), "left")
          .select(date_format(col("d"), "yyyy-MM-dd").as("d"),
            coalesce(col("cents"), lit(0L)).as("cents"),
            col("cents").isNotNull.as("had_sales"))
      },
      Some("""WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS d,
        |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
        |  FROM orders GROUP BY 1),
        |spine AS (SELECT CAST(unnest(generate_series(
        |    (SELECT min(d) FROM daily), (SELECT max(d) FROM daily),
        |    INTERVAL 1 DAY)) AS DATE) AS d)
        |SELECT strftime(spine.d, '%Y-%m-%d') AS d,
        |  coalesce(daily.cents, 0) AS cents,
        |  daily.cents IS NOT NULL AS had_sales
        |FROM spine LEFT JOIN daily ON spine.d = daily.d""".stripMargin)),

    // CSV ingest roundtrip, oracle-proven lossless: customer (comma- and
    // quote-bearing strings, doubles) written as quoted CSV and read back
    // through the permissive corrupt-record reader must hash-match the
    // original parquet table — the ingest contract as a CORRECTNESS row,
    // not just a spec
    Qry("q70_csv_ingest",
      (s, dir) => {
        val src = t(s, dir, "customer")
        // deterministic per-sf export dir, written once and reused —
        // fresh temp dirs per invocation would leak a full table copy
        // per Bench/Verify run
        val tmp = s"${System.getProperty("java.io.tmpdir")}/graft_q70_csv_${dir.hashCode.toHexString}"
        if (!graft.io.Fs.hasSuccessMarker(tmp, s.sessionState.newHadoopConf()))
          src.write.mode("overwrite").option("header", "true").csv(tmp)
        graft.io.Tables.readCsv(s, tmp, src.schema)
          .drop("_corrupt_record")
      },
      Some("SELECT * FROM customer")),

    // JSON-lines ingest roundtrip — same contract, nested-free schema;
    // doubles survive via shortest-round-trip repr on both legs
    Qry("q71_jsonl_ingest",
      (s, dir) => {
        val src = t(s, dir, "part")
        val tmp = s"${System.getProperty("java.io.tmpdir")}/graft_q71_jsonl_${dir.hashCode.toHexString}"
        if (!graft.io.Fs.hasSuccessMarker(tmp, s.sessionState.newHadoopConf()))
          src.write.mode("overwrite").json(tmp)
        graft.io.Tables.readJsonl(s, tmp, src.schema)
          .drop("_corrupt_record")
      },
      Some("SELECT * FROM part")),

    // F2/F3 — the USER catalog contract (reference validation.py:34-58):
    // empty/blank name, email regex, NULL join_date — over customer rows
    // dirtied deterministically (blank names at %11/%23, null email at %29,
    // space-carrying email at %13, no-TLD email at %19, null join_date at
    // %17). One narrow projection pass, zero shuffles.
    Qry("q51_user_contract",
      (s, dir) => {
        val ck = col("c_custkey")
        val u = t(s, dir, "customer").select(
          ck.as("user_id"),
          when(ck % 11 === 0, lit("")).when(ck % 23 === 0, lit("   "))
            .otherwise(col("c_name")).as("name"),
          when(ck % 29 === 0, lit(null).cast("string"))
            .when(ck % 13 === 0, concat(lit("bad email "), ck.cast("string")))
            .when(ck % 19 === 0, concat(lit("u"), ck.cast("string"), lit("@nodotcom")))
            .otherwise(concat(lit("u"), ck.cast("string"), lit("@x.com"))).as("email"),
          when(ck % 17 === 0, lit(null).cast("date"))
            .otherwise(date_add(to_date(lit("2020-01-01")), (ck % 365).cast("int")))
            .as("join_date"))
        val v = new Validator(
          Rules.userRules(col("user_id"), col("name"), col("email"), col("join_date")),
          "user", col("user_id"), "users")
        v.errors(v.annotate(u))
      },
      Some("""WITH u AS (SELECT c_custkey AS user_id,
        |  CASE WHEN c_custkey % 11 = 0 THEN '' WHEN c_custkey % 23 = 0 THEN '   '
        |       ELSE c_name END AS name,
        |  CASE WHEN c_custkey % 29 = 0 THEN NULL
        |       WHEN c_custkey % 13 = 0 THEN 'bad email ' || CAST(c_custkey AS VARCHAR)
        |       WHEN c_custkey % 19 = 0 THEN 'u' || CAST(c_custkey AS VARCHAR) || '@nodotcom'
        |       ELSE 'u' || CAST(c_custkey AS VARCHAR) || '@x.com' END AS email,
        |  CASE WHEN c_custkey % 17 = 0 THEN NULL
        |       ELSE DATE '2020-01-01' + CAST(c_custkey % 365 AS INT) END AS join_date
        |FROM customer)
        |SELECT 'user' AS entity, CAST(user_id AS VARCHAR) AS record_id,
        |  'invalid_user' AS error_type, 'error' AS severity,
        |  'Empty name for user ' || CAST(user_id AS VARCHAR) AS message
        |FROM u WHERE name IS NULL OR trim(name) = ''
        |UNION ALL
        |SELECT 'user', CAST(user_id AS VARCHAR), 'invalid_user', 'error',
        |  'Invalid email "' || coalesce(email, 'None') || '" for user ' || CAST(user_id AS VARCHAR)
        |FROM u WHERE email IS NULL OR NOT regexp_matches(email, '^[^\s@]+@[^\s@]+\.[^\s@]+$')
        |UNION ALL
        |SELECT 'user', CAST(user_id AS VARCHAR), 'invalid_user', 'error',
        |  'NULL join_date for user ' || CAST(user_id AS VARCHAR)
        |FROM u WHERE join_date IS NULL""".stripMargin)),

    // F9-adjacent — the PRODUCT catalog contract (validation.py:60-87):
    // empty name, price >= 10000, negative stock. Injected prices are
    // integer-valued doubles so the interpolated message repr is identical
    // across engines (verified: Java 17 Double.toString == DuckDB VARCHAR
    // cast over the whole part price domain).
    Qry("q52_product_contract",
      (s, dir) => {
        val pk = col("p_partkey")
        val p = t(s, dir, "part").select(
          pk.as("product_id"),
          when(pk % 19 === 0, lit("")).otherwise(col("p_name")).as("name"),
          when(pk % 23 === 0, (pk % 5000 + 10000).cast("double"))
            .otherwise(col("p_retailprice")).as("price"),
          when(pk % 29 === 0, -(col("p_size").cast("int") + 1))
            .otherwise(col("p_size").cast("int")).as("stock"))
        val v = new Validator(
          Rules.productRules(col("product_id"), col("name"), col("price"), col("stock")),
          "product", col("product_id"), "products")
        v.errors(v.annotate(p))
      },
      Some("""WITH p AS (SELECT p_partkey AS product_id,
        |  CASE WHEN p_partkey % 19 = 0 THEN '' ELSE p_name END AS name,
        |  CASE WHEN p_partkey % 23 = 0 THEN CAST(p_partkey % 5000 + 10000 AS DOUBLE)
        |       ELSE p_retailprice END AS price,
        |  CASE WHEN p_partkey % 29 = 0 THEN -(CAST(p_size AS INT) + 1)
        |       ELSE CAST(p_size AS INT) END AS stock
        |FROM part)
        |SELECT 'product' AS entity, CAST(product_id AS VARCHAR) AS record_id,
        |  'invalid_product' AS error_type, 'error' AS severity,
        |  'Empty name for product ' || CAST(product_id AS VARCHAR) AS message
        |FROM p WHERE name IS NULL OR trim(name) = ''
        |UNION ALL
        |SELECT 'product', CAST(product_id AS VARCHAR), 'price_ge_10000', 'error',
        |  'Product ' || CAST(product_id AS VARCHAR) || ' price ' || CAST(price AS VARCHAR) || ' >= 10000'
        |FROM p WHERE price >= 10000
        |UNION ALL
        |SELECT 'product', CAST(product_id AS VARCHAR), 'negative_stock', 'error',
        |  'Product ' || CAST(product_id AS VARCHAR) || ' has negative stock ' || CAST(stock AS VARCHAR)
        |FROM p WHERE stock < 0""".stripMargin)),

    // J4/F9/U3/A7 at full strength — the transaction contract with REAL
    // cross-entity price lookup (expectedPrice = the valid product's unit
    // price) and REAL in-batch duplicate occurrence numbering, so
    // price_mismatch (validation.py:161-165) and duplicate_tx_id
    // (validation.py:155-159) actually fire and hash-match the oracle.
    // Mismatch rows force quantity=1 so the interpolated "got" value is the
    // total itself (no division repr divergence); every %31 tx appears
    // twice so the 2nd occurrence logs the duplicate warning.
    Qry("q53_tx_price_dup_contract",
      (s, dir) => q53Frame(s, dir),
      Some("""WITH base AS (SELECT o_orderkey AS transaction_id,
        |    CASE WHEN o_orderkey % 17 = 0 THEN strftime(o_orderdate, '%d-%m-%Y')
        |         ELSE strftime(o_orderdate, '%Y-%m-%d') END AS date,
        |    CASE WHEN o_orderkey % 11 = 0 THEN o_custkey + 1000000 ELSE o_custkey END AS user_id,
        |    CASE WHEN o_orderkey % 13 = 0 THEN o_orderkey % 2000 + 1000000
        |         ELSE o_orderkey % 2000 END AS product_id,
        |    CASE WHEN o_orderkey % 37 = 0 THEN 1 ELSE CAST(o_orderkey % 7 AS INT) - 1 END AS quantity,
        |    o_totalprice,
        |    ['Bitcoin','Visa','MasterCard','Wire Transfer','Other'][CAST(o_orderkey % 5 AS INT) + 1] AS payment_type,
        |    ['Pending','Success','Failed'][CAST(o_orderkey % 3 AS INT) + 1] AS status
        |  FROM orders),
        |tx AS (SELECT * FROM base UNION ALL SELECT * FROM base WHERE transaction_id % 31 = 0),
        |j1 AS (SELECT tx.*, c.c_custkey AS vu_user_id, p.p_partkey AS vp_product_id,
        |    p.p_retailprice AS vp_price,
        |    CASE WHEN p.p_retailprice IS NOT NULL THEN
        |        CASE WHEN transaction_id % 37 = 0 THEN p.p_retailprice + 5.0
        |             ELSE round(p.p_retailprice * quantity, 2) END
        |      ELSE o_totalprice END AS price,
        |    row_number() OVER (PARTITION BY transaction_id ORDER BY product_id, date) AS dup_occ
        |  FROM tx LEFT JOIN customer c ON tx.user_id = c.c_custkey
        |          LEFT JOIN part p ON tx.product_id = p.p_partkey),
        |j AS (SELECT j1.*,
        |    vu_user_id IS NOT NULL AS user_known,
        |    vp_product_id IS NOT NULL AS product_known,
        |    quantity = 0 AS qty_zero, quantity < 0 AS qty_neg,
        |    lower(coalesce(payment_type, '')) NOT IN ('visa','mastercard','wire transfer','other') AS pay_bad,
        |    lower(coalesce(status, '')) NOT IN ('success','failed') AS status_bad,
        |    (COALESCE(try_strptime(date, '%Y-%m-%d'),
        |      CASE WHEN contains(date, '/') THEN try_strptime(date, '%Y/%m/%d')
        |           WHEN contains(date, 'T') THEN try_strptime(split_part(date, 'T', 1), '%Y-%m-%d')
        |           WHEN regexp_matches(date, '^[0-9]{8}$') THEN try_strptime(date, '%Y%m%d')
        |      END) IS NULL) AS date_bad
        |  FROM j1)
        |SELECT 'transaction' AS entity, CAST(transaction_id AS VARCHAR) AS record_id,
        |       'orphan_user' AS error_type, 'error' AS severity,
        |       'Transaction ' || CAST(transaction_id AS VARCHAR) || ' references non-existent user ' || CAST(user_id AS VARCHAR) AS message
        |FROM j WHERE NOT user_known
        |UNION ALL
        |SELECT 'transaction', CAST(transaction_id AS VARCHAR), 'orphan_product', 'error',
        |       'Transaction ' || CAST(transaction_id AS VARCHAR) || ' references non-existent product ' || CAST(product_id AS VARCHAR)
        |FROM j WHERE NOT product_known
        |UNION ALL
        |SELECT 'transaction', CAST(transaction_id AS VARCHAR), 'qty_zero', 'error',
        |       'Transaction ' || CAST(transaction_id AS VARCHAR) || ' has zero quantity'
        |FROM j WHERE qty_zero
        |UNION ALL
        |SELECT 'transaction', CAST(transaction_id AS VARCHAR), 'qty_negative', 'error',
        |       'Transaction ' || CAST(transaction_id AS VARCHAR) || ' has negative quantity ' || CAST(quantity AS VARCHAR)
        |FROM j WHERE qty_neg
        |UNION ALL
        |SELECT 'transaction', CAST(transaction_id AS VARCHAR), 'invalid_payment_type', 'error',
        |       'Transaction ' || CAST(transaction_id AS VARCHAR) || ' has invalid payment_type "' || payment_type || '"'
        |FROM j WHERE pay_bad
        |UNION ALL
        |SELECT 'transaction', CAST(transaction_id AS VARCHAR), 'invalid_status', 'error',
        |       'Transaction ' || CAST(transaction_id AS VARCHAR) || ' has invalid status "' || status || '"'
        |FROM j WHERE status_bad
        |UNION ALL
        |SELECT 'transaction', CAST(transaction_id AS VARCHAR), 'bad_date_format', 'error',
        |       'Transaction ' || CAST(transaction_id AS VARCHAR) || ' has unparseable date "' || date || '"'
        |FROM j WHERE date_bad
        |UNION ALL
        |SELECT 'transaction', CAST(transaction_id AS VARCHAR), 'duplicate_tx_id', 'warning',
        |       'Duplicate transaction_id ' || CAST(transaction_id AS VARCHAR)
        |FROM j WHERE dup_occ >= 2
        |UNION ALL
        |SELECT 'transaction', CAST(transaction_id AS VARCHAR), 'price_mismatch', 'warning',
        |       'Transaction ' || CAST(transaction_id AS VARCHAR) || ' price mismatch: expected '
        |         || CAST(vp_price AS VARCHAR) || ', got ' || CAST(price / quantity AS VARCHAR)
        |FROM j WHERE vp_price IS NOT NULL AND user_known AND product_known
        |  AND NOT qty_zero AND NOT qty_neg AND NOT pay_bad AND NOT status_bad AND NOT date_bad
        |  AND quantity > 0 AND abs(price / quantity - vp_price) > 0.01""".stripMargin)),

    // conversion funnel: per-user FIRST timestamp of each stage, then
    // strictly-ordered stage progression counts — two aggregates (one on
    // user_id, one global 1-row), no self-joins, no window; the shape a
    // 100 TB event log needs (the per-user reduce is map-side combinable)
    Qry("q89_event_funnel",
      (s, dir) => {
        val perUser = events(s, dir).groupBy("user_id").agg(
          min(when(col("event_type") === "view", col("ts"))).as("t_view"),
          min(when(col("event_type") === "click", col("ts"))).as("t_click"),
          min(when(col("event_type") === "purchase", col("ts"))).as("t_purchase"))
        perUser.agg(
          count(lit(1)).as("n_users"),
          count(col("t_view")).as("n_viewed"),
          count(when(col("t_click") > col("t_view"), 1)).as("n_clicked_after_view"),
          count(when(col("t_click") > col("t_view") &&
            col("t_purchase") > col("t_click"), 1)).as("n_full_funnel"))
      },
      Some("""WITH u AS (SELECT user_id,
        |    min(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
        |    min(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
        |    min(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
        |  FROM events GROUP BY 1)
        |SELECT CAST(count(*) AS BIGINT) AS n_users,
        |  CAST(count(t_view) AS BIGINT) AS n_viewed,
        |  CAST(count(CASE WHEN t_click > t_view THEN 1 END) AS BIGINT)
        |    AS n_clicked_after_view,
        |  CAST(count(CASE WHEN t_click > t_view AND t_purchase > t_click
        |    THEN 1 END) AS BIGINT) AS n_full_funnel
        |FROM u""".stripMargin)),

    // RFM segmentation: recency/frequency/monetary per customer, quartiled
    // WITHIN nation (ntile inside a partition — never the global sort a
    // naive RFM does), monetary in exact cents; the reference date is a
    // 1-row broadcast, not a second scan-wide join
    Qry("q90_rfm_segments",
      (s, dir) => {
        val o = t(s, dir, "orders")
        val perCust = o.groupBy(col("o_custkey"))
          .agg(max(col("o_orderdate").cast("date")).as("last_order"),
            count(lit(1)).as("frequency"),
            sum(round(col("o_totalprice") * 100, 0).cast("long")).as("monetary_cents"))
        val ref = o.agg(max(col("o_orderdate").cast("date")).as("ref_date"))
        val base = perCust.crossJoin(broadcast(ref))
          .withColumn("recency_days", datediff(col("ref_date"), col("last_order")))
          .join(t(s, dir, "customer").select(col("c_custkey"), col("c_nationkey")),
            col("o_custkey") === col("c_custkey"))
        def quart(order: Column*) = ntile(4).over(
          Window.partitionBy("c_nationkey").orderBy(order: _*))
        base.select(col("c_custkey"), col("c_nationkey"), col("recency_days"),
            col("frequency"), col("monetary_cents"),
            quart(col("recency_days"), col("c_custkey")).as("r_q"),
            quart(col("frequency").desc, col("c_custkey")).as("f_q"),
            quart(col("monetary_cents").desc, col("c_custkey")).as("m_q"))
          .withColumn("segment", concat_ws("-", col("r_q"), col("f_q"), col("m_q")))
      },
      Some("""WITH pc AS (SELECT o_custkey, max(CAST(o_orderdate AS DATE)) AS last_order,
        |    CAST(count(*) AS BIGINT) AS frequency,
        |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS monetary_cents
        |  FROM orders GROUP BY 1),
        |r AS (SELECT max(CAST(o_orderdate AS DATE)) AS ref_date FROM orders),
        |base AS (SELECT c.c_custkey, c.c_nationkey,
        |    CAST(datediff('day', pc.last_order, r.ref_date) AS INT) AS recency_days,
        |    pc.frequency, pc.monetary_cents
        |  FROM pc JOIN customer c ON pc.o_custkey = c.c_custkey CROSS JOIN r),
        |q AS (SELECT c_custkey, c_nationkey, recency_days, frequency, monetary_cents,
        |    CAST(ntile(4) OVER (PARTITION BY c_nationkey
        |      ORDER BY recency_days, c_custkey) AS INT) AS r_q,
        |    CAST(ntile(4) OVER (PARTITION BY c_nationkey
        |      ORDER BY frequency DESC, c_custkey) AS INT) AS f_q,
        |    CAST(ntile(4) OVER (PARTITION BY c_nationkey
        |      ORDER BY monetary_cents DESC, c_custkey) AS INT) AS m_q
        |  FROM base)
        |SELECT c_custkey, c_nationkey, recency_days, frequency, monetary_cents,
        |  r_q, f_q, m_q,
        |  CAST(r_q AS VARCHAR) || '-' || CAST(f_q AS VARCHAR) || '-'
        |    || CAST(m_q AS VARCHAR) AS segment
        |FROM q""".stripMargin)),

    // cohort retention: customers bucketed by first-order month, activity
    // counted per month offset — integer month arithmetic (year·12+month)
    // so every cell is exact; one shuffle on custkey for the cohort join
    // (AQE broadcasts the slim cohort side at runtime), one for the cell agg
    Qry("q91_cohort_retention",
      (s, dir) => {
        val o = t(s, dir, "orders").select(col("o_custkey"),
          (year(col("o_orderdate").cast("date")) * 12 +
            month(col("o_orderdate").cast("date"))).as("ym"))
        val cohort = o.groupBy("o_custkey").agg(min("ym").as("cohort_ym"))
        o.join(cohort, "o_custkey")
          .groupBy(col("cohort_ym"), (col("ym") - col("cohort_ym")).as("month_offset"))
          .agg(countDistinct("o_custkey").as("n_active"))
      },
      Some("""WITH o AS (SELECT o_custkey,
        |    CAST(year(CAST(o_orderdate AS DATE)) * 12
        |      + month(CAST(o_orderdate AS DATE)) AS INT) AS ym
        |  FROM orders),
        |c AS (SELECT o_custkey, min(ym) AS cohort_ym FROM o GROUP BY 1)
        |SELECT c.cohort_ym, o.ym - c.cohort_ym AS month_offset,
        |  CAST(count(DISTINCT o.o_custkey) AS BIGINT) AS n_active
        |FROM o JOIN c USING (o_custkey) GROUP BY 1, 2""".stripMargin)),

    // market-basket co-occurrence: part pairs sharing an order. The self
    // join is ORDER-local (equi-join on l_orderkey), so the fan-out is
    // quadratic only in basket size — bounded and small — never in table
    // size; support-2 floor keeps the output the interesting tail.
    // NOTE (r15): a per-order collect_set + higher-order pair-expansion
    // rewrite was tried and REJECTED by the scale gate: −44% at sf0.1
    // (2.17 → 1.22 s min-of-5) but +63% at sf10 on the same box
    // (38.2 → 62.1 s min-of-2) — collect_set is an object-based
    // TypedImperativeAggregate that falls back to SORT-based
    // aggregation past ~128 in-memory groups per partition, so at
    // corpus scale the "no join" shape pays a full sort of lineitem
    // PLUS per-group array-buffer overhead, which loses to the
    // codegen'd sort-merge self-join. The join stays.
    Qry("q92_basket_pairs",
      (s, dir) => {
        val li = t(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_partkey")).distinct()
        val a = li.select(col("l_orderkey").as("ok"), col("l_partkey").as("part_a"))
        val b = li.select(col("l_orderkey").as("ok"), col("l_partkey").as("part_b"))
        a.join(b, Seq("ok")).filter(col("part_a") < col("part_b"))
          .groupBy("part_a", "part_b").agg(count(lit(1)).as("n_orders"))
          .filter(col("n_orders") >= 2)
      },
      Some("""WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
        |SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
        |  CAST(count(*) AS BIGINT) AS n_orders
        |FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
        |  AND a.l_partkey < b.l_partkey
        |GROUP BY 1, 2 HAVING count(*) >= 2""".stripMargin)),

    // fixed-width value histogram in exact cents: bucket boundaries are
    // integer arithmetic (the $25k-wide floor), counts and sums exact —
    // one map-side-combinable aggregate, the profiling primitive
    Qry("q93_value_histogram",
      (s, dir) => t(s, dir, "orders")
        .select(round(col("o_totalprice") * 100, 0).cast("long").as("cents"))
        .select(floor(col("cents") / 2500000.0).cast("long").as("bucket"), col("cents"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_orders"), sum("cents").as("sum_cents"))
        .withColumn("bucket_lo_cents", col("bucket") * 2500000L),
      Some("""WITH c AS (SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders),
        |g AS (SELECT CAST(floor(cents / 2500000.0) AS BIGINT) AS bucket,
        |    CAST(count(*) AS BIGINT) AS n_orders,
        |    CAST(sum(cents) AS BIGINT) AS sum_cents
        |  FROM c GROUP BY 1)
        |SELECT bucket, n_orders, sum_cents,
        |  bucket * 2500000 AS bucket_lo_cents FROM g""".stripMargin)),

    // behavioral transition matrix: (event_type → next event_type) counts
    // with per-source probabilities — lead() inside the per-user window
    // (one shuffle on user_id), then a 25-cell aggregate; the Markov-chain
    // input every session-model pipeline derives
    Qry("q97_event_transitions",
      (s, dir) => {
        val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        val probW = Window.partitionBy("from_type")
        events(s, dir)
          .select(col("user_id"), col("event_type"),
            lead("event_type", 1).over(w).as("next_type"))
          .filter(col("next_type").isNotNull)
          .groupBy(col("event_type").as("from_type"), col("next_type").as("to_type"))
          .agg(count(lit(1)).as("n"))
          .withColumn("prob",
            round(col("n").cast("double") / sum("n").over(probW), 6))
      },
      Some("""WITH nx AS (SELECT event_type,
        |    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |      AS next_type
        |  FROM events),
        |g AS (SELECT event_type AS from_type, next_type AS to_type,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM nx WHERE next_type IS NOT NULL GROUP BY 1, 2)
        |SELECT from_type, to_type, n,
        |  round(CAST(n AS DOUBLE) / sum(n) OVER (PARTITION BY from_type), 6)
        |    AS prob
        |FROM g""".stripMargin)),

    // outlier days by z-score — mean/variance from exact BIGINT power sums
    // (the q84 trick), so the flag threshold is the same double on every
    // engine; the global stats row broadcasts back onto the daily series
    Qry("q98_revenue_anomaly",
      (s, dir) => {
        val daily = t(s, dir, "orders")
          .groupBy(col("o_orderdate").cast("date").as("d"))
          .agg(sum(round(col("o_totalprice") * 100, 0).cast("long")).as("cents"))
        // the squares sum past int64 at scale — accumulate exactly in
        // decimal (Spark) / hugeint (DuckDB), go double only at the end
        val stats = daily.agg(count(lit(1)).as("n"), sum("cents").as("s"),
          sum(col("cents").cast("decimal(18,0)") * col("cents").cast("decimal(18,0)"))
            .as("ss"))
        val mean = col("s").cast("double") / col("n")
        val variance = (col("n").cast("double") * col("ss").cast("double") -
          col("s").cast("double") * col("s").cast("double")) /
          (col("n").cast("double") * (col("n") - 1))
        daily.crossJoin(broadcast(stats))
          .withColumn("z", (col("cents").cast("double") - mean) / sqrt(variance))
          .filter(abs(col("z")) > 2.0)
          .select(date_format(col("d"), "yyyy-MM-dd").as("d"),
            col("cents"), round(col("z"), 4).as("z"))
      },
      Some("""WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS d,
        |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
        |  FROM orders GROUP BY 1),
        |st AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(cents) AS BIGINT) AS s,
        |    sum(CAST(cents AS HUGEINT) * cents) AS ss FROM daily),
        |z AS (SELECT d, cents,
        |    (CAST(cents AS DOUBLE) - CAST(s AS DOUBLE) / n)
        |      / sqrt((CAST(n AS DOUBLE) * CAST(ss AS DOUBLE)
        |              - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
        |             / (CAST(n AS DOUBLE) * (n - 1))) AS z
        |  FROM daily CROSS JOIN st)
        |SELECT strftime(d, '%Y-%m-%d') AS d, cents, round(z, 4) AS z
        |FROM z WHERE abs(z) > 2.0""".stripMargin)),

    // heavy-hitter profile: the hottest join keys with their share of the
    // table — the measurement that decides when [[graft.ops.Skew]] salting
    // is worth its exchange; top-k is TakeOrdered over the aggregated keys
    Qry("q99_heavy_hitters",
      (s, dir) => {
        val cnt = t(s, dir, "orders").groupBy("o_custkey").agg(count(lit(1)).as("n"))
        // total = sum of the group counts: derived from the (small)
        // aggregated side, never a second pass over the fact table
        val tot = cnt.agg(sum("n").as("total"))
        cnt.crossJoin(broadcast(tot))
          .select(col("o_custkey"), col("n"),
            round(col("n").cast("double") / col("total"), 6).as("share"))
          .orderBy(desc("n"), col("o_custkey")).limit(20)
      },
      Some("""WITH c AS (SELECT o_custkey, CAST(count(*) AS BIGINT) AS n
        |  FROM orders GROUP BY 1),
        |t AS (SELECT CAST(count(*) AS BIGINT) AS total FROM orders)
        |SELECT o_custkey, n, round(CAST(n AS DOUBLE) / total, 6) AS share
        |FROM c CROSS JOIN t
        |ORDER BY n DESC, o_custkey LIMIT 20""".stripMargin)),

    // column profiling (the ANALYZE-TABLE primitive): null counts, exact
    // distinct counts, min/max per column — computed in ONE pass (the
    // multi-distinct Expand), then unpivoted with stack(); the oracle has
    // to scan once per column, which is exactly the cost this shape saves
    Qry("q105_column_profile",
      (s, dir) => {
        val cols = Seq("c_custkey", "c_name", "c_nationkey")
        val aggs = cols.flatMap { c => Seq(
          (count(lit(1)) - count(col(c))).as(s"${c}_nulls"),
          countDistinct(col(c)).as(s"${c}_nd"),
          min(col(c)).cast("string").as(s"${c}_min"),
          max(col(c)).cast("string").as(s"${c}_max"))
        }
        val stackArgs = cols.map(c =>
          s"'$c', ${c}_nulls, ${c}_nd, ${c}_min, ${c}_max").mkString(", ")
        t(s, dir, "customer").agg(aggs.head, aggs.tail: _*)
          .selectExpr(s"stack(${cols.size}, $stackArgs) AS " +
            "(column_name, n_nulls, n_distinct, min_s, max_s)")
      },
      Some("""SELECT 'c_custkey' AS column_name,
        |  CAST(count(*) - count(c_custkey) AS BIGINT) AS n_nulls,
        |  CAST(count(DISTINCT c_custkey) AS BIGINT) AS n_distinct,
        |  CAST(min(c_custkey) AS VARCHAR) AS min_s,
        |  CAST(max(c_custkey) AS VARCHAR) AS max_s FROM customer
        |UNION ALL
        |SELECT 'c_name', CAST(count(*) - count(c_name) AS BIGINT),
        |  CAST(count(DISTINCT c_name) AS BIGINT),
        |  min(c_name), max(c_name) FROM customer
        |UNION ALL
        |SELECT 'c_nationkey', CAST(count(*) - count(c_nationkey) AS BIGINT),
        |  CAST(count(DISTINCT c_nationkey) AS BIGINT),
        |  CAST(min(c_nationkey) AS VARCHAR),
        |  CAST(max(c_nationkey) AS VARCHAR) FROM customer""".stripMargin)),

    // winsorization: clip the value column at the (rounded-cent) p01/p99 —
    // outlier taming before any float-sensitive model sees the data. The
    // cut points come from the two-exchange value-histogram quantile
    // ([[graft.ops.Quantiles]]; a global exact `percentile` would buffer
    // the whole table in ONE aggregation buffer), collapse to a 1-row
    // broadcast back onto the scan; clipping is integer arithmetic after
    // rounding the cut points, so clipped sums stay exact
    Qry("q106_winsorize",
      (s, dir) => {
        // slim 2-column cache: feeds the quantile pass + the final clip
        // scan (two consumers of the same projection)
        val li = t(s, dir, "lineitem")
          .select(col("l_returnflag"),
            round(col("l_extendedprice") * 100, 0).cast("long").as("cents"))
          .cache()
        val cuts = graft.ops.Quantiles.valueHistogramQuantiles(li, Nil, "cents",
            Seq("p01r" -> 0.01, "p99r" -> 0.99))
          .select(round(col("p01r"), 0).cast("long").as("p01"),
            round(col("p99r"), 0).cast("long").as("p99"))
        li.crossJoin(broadcast(cuts))
          .select(col("l_returnflag"),
            greatest(least(col("cents"), col("p99")), col("p01")).as("w"),
            (col("cents") < col("p01")).as("lo"), (col("cents") > col("p99")).as("hi"))
          .groupBy("l_returnflag")
          .agg(count(lit(1)).as("n"), sum("w").as("sum_w_cents"),
            min("w").as("min_w"), max("w").as("max_w"),
            count(when(col("lo"), 1)).as("n_clipped_lo"),
            count(when(col("hi"), 1)).as("n_clipped_hi"))
      },
      Some("""WITH li AS (SELECT l_returnflag,
        |    CAST(round(l_extendedprice * 100) AS BIGINT) AS cents FROM lineitem),
        |cuts AS (SELECT CAST(round(quantile_cont(cents, 0.01)) AS BIGINT) AS p01,
        |    CAST(round(quantile_cont(cents, 0.99)) AS BIGINT) AS p99 FROM li),
        |w AS (SELECT l_returnflag,
        |    greatest(least(cents, p99), p01) AS w,
        |    cents < p01 AS lo, cents > p99 AS hi
        |  FROM li CROSS JOIN cuts)
        |SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(w) AS BIGINT) AS sum_w_cents,
        |  min(w) AS min_w, max(w) AS max_w,
        |  CAST(count(CASE WHEN lo THEN 1 END) AS BIGINT) AS n_clipped_lo,
        |  CAST(count(CASE WHEN hi THEN 1 END) AS BIGINT) AS n_clipped_hi
        |FROM w GROUP BY 1""".stripMargin)),

    // snapshot diff (the CDC / change-feed primitive): two dimension
    // snapshots full-outer joined on the business key, every row
    // classified added / removed / changed — the input SCD2 merges and
    // downstream incremental consumers need. Snapshot B is derived from A
    // by deterministic key arithmetic (deletes at %17, updates at %5;
    // inserts mirror into the NEGATIVE key space, which cannot collide
    // with a real key at any scale — a fixed positive offset would)
    Qry("q107_snapshot_diff",
      (s, dir) => {
        val a = t(s, dir, "customer").select(col("c_custkey").as("k"),
          round(col("c_acctbal") * 100, 0).cast("long").as("bal_a"))
        val b0 = t(s, dir, "customer").filter(col("c_custkey") % 17 =!= 0)
          .select(col("c_custkey").as("k"),
            when(col("c_custkey") % 5 === 0,
              round(col("c_acctbal") * 100, 0).cast("long") + 12345L)
              .otherwise(round(col("c_acctbal") * 100, 0).cast("long")).as("bal_b"))
        val b = b0.unionByName(
          t(s, dir, "customer").filter(col("c_custkey") % 13 === 0)
            .select((-col("c_custkey") - 1).as("k"),
              round(col("c_acctbal") * 100, 0).cast("long").as("bal_b")))
        a.join(b, Seq("k"), "full_outer")
          .withColumn("change_type",
            when(col("bal_a").isNull, "added")
              .when(col("bal_b").isNull, "removed")
              .when(col("bal_a") =!= col("bal_b"), "changed")
              .otherwise("unchanged"))
          .filter(col("change_type") =!= "unchanged")
          .select(col("k"), col("bal_a"), col("bal_b"), col("change_type"))
      },
      Some("""WITH a AS (SELECT c_custkey AS k,
        |    CAST(round(c_acctbal * 100) AS BIGINT) AS bal_a FROM customer),
        |b AS (SELECT c_custkey AS k,
        |    CASE WHEN c_custkey % 5 = 0
        |      THEN CAST(round(c_acctbal * 100) AS BIGINT) + 12345
        |      ELSE CAST(round(c_acctbal * 100) AS BIGINT) END AS bal_b
        |  FROM customer WHERE c_custkey % 17 <> 0
        |  UNION ALL
        |  SELECT -c_custkey - 1,
        |    CAST(round(c_acctbal * 100) AS BIGINT)
        |  FROM customer WHERE c_custkey % 13 = 0),
        |j AS (SELECT COALESCE(a.k, b.k) AS k, bal_a, bal_b,
        |    CASE WHEN bal_a IS NULL THEN 'added'
        |         WHEN bal_b IS NULL THEN 'removed'
        |         WHEN bal_a <> bal_b THEN 'changed'
        |         ELSE 'unchanged' END AS change_type
        |  FROM a FULL OUTER JOIN b ON a.k = b.k)
        |SELECT k, bal_a, bal_b, change_type FROM j
        |WHERE change_type <> 'unchanged'""".stripMargin)),

    // deterministic hash sampling (the TABLESAMPLE twin any engine can
    // reproduce): md5-derived bucket < rate — a pure per-row filter that
    // pushes nothing to RNG state, re-runs identically on any cluster
    // layout, and composes with incremental loads (same ids always in)
    Qry("q108_hash_sample",
      (s, dir) => t(s, dir, "orders")
        .filter(pmod(graft.text.TextOps.hash64(
          concat(lit("s42|"), col("o_orderkey").cast("string"))), lit(100)) < 10)
        .select(col("o_orderkey"), col("o_custkey")),
      Some("""SELECT o_orderkey, o_custkey FROM orders
        |WHERE (('0x' || substr(md5('s42|' || CAST(o_orderkey AS VARCHAR)), 1, 15))::BIGINT)
        |  % 100 < 10""".stripMargin)),

    // gaps-and-islands: maximal runs of consecutive sales days per order
    // priority — the dn − row_number() constant-per-island trick, the
    // inverse of q87's gap fill; both windows partition by priority, so
    // no global sort, and the input is the (small) daily aggregate
    Qry("q114_gaps_islands",
      (s, dir) => {
        val daily = t(s, dir, "orders")
          .select(col("o_orderpriority").as("prio"),
            col("o_orderdate").cast("date").as("d")).distinct()
        val w = Window.partitionBy("prio").orderBy("d")
        daily
          .withColumn("dn", datediff(col("d"), lit("1990-01-01").cast("date")))
          .withColumn("grp", col("dn") - row_number().over(w))
          .groupBy("prio", "grp")
          .agg(date_format(min("d"), "yyyy-MM-dd").as("island_start"),
            date_format(max("d"), "yyyy-MM-dd").as("island_end"),
            count(lit(1)).as("n_days"))
          .drop("grp")
          .filter(col("n_days") >= 5)
      },
      Some("""WITH daily AS (SELECT DISTINCT o_orderpriority AS prio,
        |    CAST(o_orderdate AS DATE) AS d FROM orders),
        |g AS (SELECT prio, d,
        |    datediff('day', DATE '1990-01-01', d)
        |      - row_number() OVER (PARTITION BY prio ORDER BY d) AS grp
        |  FROM daily),
        |i AS (SELECT prio, grp,
        |    strftime(min(d), '%Y-%m-%d') AS island_start,
        |    strftime(max(d), '%Y-%m-%d') AS island_end,
        |    CAST(count(*) AS BIGINT) AS n_days
        |  FROM g GROUP BY 1, 2)
        |SELECT prio, island_start, island_end, n_days FROM i
        |WHERE n_days >= 5""".stripMargin)),

    // per-group mode (most frequent value, deterministic smallest-wins
    // tie-break): the categorical summary statistic — count + one
    // per-group rank window over the (tiny) aggregated table
    Qry("q115_mode_per_group",
      (s, dir) => {
        val w = Window.partitionBy("c_nationkey")
          .orderBy(desc("n"), col("c_mktsegment"))
        t(s, dir, "customer")
          .groupBy("c_nationkey", "c_mktsegment").agg(count(lit(1)).as("n"))
          .withColumn("rnk", row_number().over(w))
          .filter(col("rnk") === 1)
          .select(col("c_nationkey"), col("c_mktsegment").as("mode_segment"), col("n"))
      },
      Some("""WITH g AS (SELECT c_nationkey, c_mktsegment,
        |    CAST(count(*) AS BIGINT) AS n FROM customer GROUP BY 1, 2)
        |SELECT c_nationkey, c_mktsegment AS mode_segment, n FROM g
        |QUALIFY row_number() OVER (PARTITION BY c_nationkey
        |  ORDER BY n DESC, c_mktsegment) = 1""".stripMargin)),

    // incremental aggregate maintenance — the materialized-view merge
    // algebra: yesterday's rollup (count/sum partials) merged with
    // today's delta must equal the full recompute, which is exactly what
    // the oracle computes. At 100 TB this is the difference between
    // re-scanning the fact table nightly and touching only the new
    // partition; derived measures (avg) come from the partials, never
    // from averaging averages
    Qry("q118_incremental_rollup",
      (s, dir) => {
        val o = t(s, dir, "orders").select(col("o_custkey"),
          col("o_orderdate").cast("date").as("d"),
          round(col("o_totalprice") * 100, 0).cast("long").as("cents"))
        val cut = lit("1996-01-01").cast("date")
        def rollup(df: DataFrame) = df.groupBy("o_custkey")
          .agg(count(lit(1)).as("n"), sum("cents").as("cents"))
        val state = rollup(o.filter(col("d") < cut))  // the stored view
        val delta = rollup(o.filter(col("d") >= cut)) // today's partition
        state.unionByName(delta)
          .groupBy("o_custkey")
          .agg(sum("n").as("n"), sum("cents").as("cents"))
          .withColumn("avg_cents",
            round(col("cents").cast("double") / col("n"), 6))
      },
      Some("""SELECT o_custkey, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents,
        |  round(CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE)
        |    / count(*), 6) AS avg_cents
        |FROM orders GROUP BY 1""".stripMargin)),

    // two chained SCD2 merges over disjoint mutation waves, with the
    // surrogate-key continuation across merges (see [[Scd2StreamTwin]])
    Qry("q120_scd2_stream_twin",
      (s, dir) => Scd2StreamTwin.merged(s, dir),
      Some(Scd2StreamTwin.oracleSql)),

    // TPC-H Q5-shaped star join: local-supplier revenue per nation inside
    // one region and one order year. Exercises Catalyst's join ordering
    // across 6 tables: the only big⋈big join is lineitem⋈orders on the
    // order key (with the year filter pushed to the orders scan);
    // nation/region are forced broadcasts (always tiny), while
    // customer/supplier are left to the planner — at sf they broadcast
    // via AQE, at 100 TB they become shuffle joins on their keys without
    // any code change. Revenue in exact integer cents so the group sums
    // hash-match the oracle regardless of float addition order.
    Qry("q141_regional_revenue",
      (s, dir) => {
        val ord = t(s, dir, "orders")
          .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
                  col("o_orderdate") <  lit("1997-01-01").cast("timestamp"))
          .select("o_orderkey", "o_custkey")
        val li = t(s, dir, "lineitem")
          .select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount")
        val asiaNations = broadcast(
          t(s, dir, "nation").join(
            broadcast(t(s, dir, "region").filter(col("r_name") === "ASIA")),
            col("n_regionkey") === col("r_regionkey"))
            .select("n_nationkey", "n_name"))
        li.join(ord, col("l_orderkey") === col("o_orderkey"))
          .join(t(s, dir, "supplier").select("s_suppkey", "s_nationkey"),
            col("l_suppkey") === col("s_suppkey"))
          .join(t(s, dir, "customer").select("c_custkey", "c_nationkey"),
            col("o_custkey") === col("c_custkey") &&
              col("c_nationkey") === col("s_nationkey"))
          .join(asiaNations, col("s_nationkey") === col("n_nationkey"))
          .withColumn("rev_cents",
            round(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * 100, 0)
              .cast("long"))
          .groupBy("n_name")
          .agg(sum("rev_cents").as("revenue_cents"),
               count(lit(1)).as("n_lineitems"))
          .orderBy(desc("revenue_cents"), col("n_name"))
      },
      Some("""SELECT n_name,
        |  CAST(sum(CAST(round(l_extendedprice * (1.0 - l_discount) * 100)
        |    AS BIGINT)) AS BIGINT) AS revenue_cents,
        |  CAST(count(*) AS BIGINT) AS n_lineitems
        |FROM lineitem
        |JOIN orders   ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey
        |JOIN nation   ON s_nationkey = n_nationkey
        |JOIN region   ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate <  TIMESTAMP '1997-01-01'
        |GROUP BY n_name
        |ORDER BY revenue_cents DESC, n_name""".stripMargin)),

    // linear interpolation across calendar gaps — the missing sibling of
    // q83's forward fill and q87's zero fill: unobserved days get the
    // straight line between the bracketing observations (sensor/metric
    // backfill semantics). Per-priority series, so both IGNORE-NULLS
    // windows partition on prio — no global sort; the windowed input is
    // the day-grain aggregate. Every 3rd day-of-month is "observed" to
    // force real gaps; calendar edges are observed by construction so the
    // interpolation is always bracketed.
    Qry("q146_linear_interp",
      (s, dir) => {
        val obs = t(s, dir, "orders")
          .groupBy(col("o_orderpriority").as("prio"),
            col("o_orderdate").cast("date").as("d"))
          .agg(sum(round(col("o_totalprice") * 100, 0).cast("long")).as("cents"))
          .filter(dayofmonth(col("d")) % 3 === 0)
        val cal = obs.groupBy("prio").agg(min("d").as("d0"), max("d").as("d1"))
          .select(col("prio"),
            explode(sequence(col("d0"), col("d1"), expr("interval 1 day"))).as("d"))
        val wPrev = Window.partitionBy("prio").orderBy("d")
          .rowsBetween(Window.unboundedPreceding, 0)
        val wNext = Window.partitionBy("prio").orderBy("d")
          .rowsBetween(0, Window.unboundedFollowing)
        cal.join(obs, Seq("prio", "d"), "left")
          .withColumn("pv", last(col("cents"), ignoreNulls = true).over(wPrev))
          .withColumn("pd", last(when(col("cents").isNotNull, col("d")),
            ignoreNulls = true).over(wPrev))
          .withColumn("nv", first(col("cents"), ignoreNulls = true).over(wNext))
          .withColumn("nd", first(when(col("cents").isNotNull, col("d")),
            ignoreNulls = true).over(wNext))
          .select(col("prio"), date_format(col("d"), "yyyy-MM-dd").as("d"),
            col("cents").isNotNull.as("observed"),
            round(when(col("cents").isNotNull, col("cents").cast("double"))
              .otherwise(col("pv").cast("double") +
                (col("nv") - col("pv")).cast("double") *
                  datediff(col("d"), col("pd")).cast("double") /
                  datediff(col("nd"), col("pd")).cast("double")), 6)
              .as("cents_filled"))
      },
      Some("""WITH obs AS (SELECT * FROM (
        |    SELECT o_orderpriority AS prio, CAST(o_orderdate AS DATE) AS d,
        |      CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |        AS cents
        |    FROM orders GROUP BY 1, 2) WHERE day(d) % 3 = 0),
        |cal AS (SELECT prio, CAST(unnest(generate_series(d0, d1,
        |    INTERVAL 1 DAY)) AS DATE) AS d
        |  FROM (SELECT prio, min(d) AS d0, max(d) AS d1 FROM obs GROUP BY 1)),
        |j AS (SELECT cal.prio, cal.d, obs.cents,
        |    last_value(obs.cents IGNORE NULLS) OVER (PARTITION BY cal.prio
        |      ORDER BY cal.d ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS pv,
        |    last_value(CASE WHEN obs.cents IS NOT NULL THEN cal.d END
        |      IGNORE NULLS) OVER (PARTITION BY cal.prio ORDER BY cal.d
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pd,
        |    first_value(obs.cents IGNORE NULLS) OVER (PARTITION BY cal.prio
        |      ORDER BY cal.d ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
        |      AS nv,
        |    first_value(CASE WHEN obs.cents IS NOT NULL THEN cal.d END
        |      IGNORE NULLS) OVER (PARTITION BY cal.prio ORDER BY cal.d
        |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nd
        |  FROM cal LEFT JOIN obs ON cal.prio = obs.prio AND cal.d = obs.d)
        |SELECT prio, strftime(d, '%Y-%m-%d') AS d,
        |  cents IS NOT NULL AS observed,
        |  round(CASE WHEN cents IS NOT NULL THEN CAST(cents AS DOUBLE)
        |    ELSE CAST(pv AS DOUBLE) + CAST(nv - pv AS DOUBLE)
        |      * CAST(date_diff('day', pd, d) AS DOUBLE)
        |      / CAST(date_diff('day', pd, nd) AS DOUBLE) END, 6)
        |    AS cents_filled
        |FROM j""".stripMargin)),

    // S10/A5/L5 — the RUN-LOG row itself, oracle-checked (VERDICT r9 #7:
    // these rows were covered only by e2e asserts). The query stages the
    // day-1 corpus the e2e battery uses (Synthetic valid users/products/
    // transactions + the 14-kind adversarial battery) into a fresh temp
    // warehouse, runs the REAL EtlRun pipeline — SCD2 merges, stock
    // snapshot, PIT fact load, audit sinks — and emits the deterministic
    // run-log columns (ids/dates/status/insert counts/severity counts;
    // timing columns excluded). The oracle re-derives every count
    // INDEPENDENTLY in SQL: the md5-keyed generators, the 11-rule
    // contract, the PIT validity rule (a user whose join_date postdates
    // the run day is a load orphan), the composite-PK first-wins drop
    // arithmetic, and the severity totals — so the audit path's counter
    // reconciliation is now hash-gated, not just asserted.
    Qry("q180_run_log",
      (s, _) => {
        val day = EtlStage.day
        // staged-once inputs, fresh warehouse per invocation (EtlStage):
        // the timed region is the PIPELINE (EtlRun + run-log read), not
        // the fixture generation — VERDICT r10 #1
        val wh = EtlStage.freshWarehouse(s)
        // PER-JOB shuffle sizing (VERDICT r11 #3): the daily ETL's
        // increment is KB–MB scale by the reference's contract, so this
        // job runs its ~dozen actions at core-count AQE start — the
        // per-job conf a production scheduler would attach — while the
        // session keeps the 512-start posture corpus-scale analytics
        // needs. Measured: the 512 start cost q180 3.5 s of pure
        // shuffle-stage overhead (6.29 → 2.67 s isolated min-of-3; the
        // pipeline executes EAGERLY inside EtlRun.run, so the scope
        // covers every action; only the trivial run-log read runs after
        // restore).
        val key = "spark.sql.adaptive.coalescePartitions.initialPartitionNum"
        val prev = s.conf.getOption(key)
        s.conf.set(key, s.sparkContext.defaultParallelism.toString)
        try {
          new graft.pipeline.EtlRun(s, wh).run(day)
            .select(col("run_id"), ymd(col("run_date")).as("run_date"),
              ymd(col("source_date")).as("source_date"),
              col("status"), col("rows_users_inserted"),
              col("rows_products_inserted"), col("rows_stock_inserted"),
              col("rows_transactions_inserted"), col("errors"), col("warnings"))
        } finally prev.fold(s.conf.unset(key))(v => s.conf.set(key, v))
      },
      Some(q180Sql))
  )

  /** q53's frame: union the dup rows, then number occurrences with the
    * real PK window — one full-fact exchange on transaction_id, the
    * honest "validate a batch that contains duplicates" shape (W3's
    * operator form lives in [[graft.ops.Dedup]] / q11 / q12). */
  private def q53Frame(s: SparkSession, dir: String): DataFrame = {
    val ok = col("o_orderkey")
    val base = t(s, dir, "orders").select(
      ok.as("transaction_id"),
      when(ok % 17 === 0, date_format(col("o_orderdate"), "dd-MM-yyyy"))
        .otherwise(ymd(col("o_orderdate"))).as("date"),
      when(ok % 11 === 0, col("o_custkey") + 1000000)
        .otherwise(col("o_custkey")).as("user_id"),
      when(ok % 13 === 0, ok % 2000 + 1000000)
        .otherwise(ok % 2000).as("product_id"),
      when(ok % 37 === 0, lit(1)).otherwise((ok % 7).cast("int") - 1).as("quantity"),
      col("o_totalprice"),
      element_at(array(lit("Bitcoin"), lit("Visa"), lit("MasterCard"),
        lit("Wire Transfer"), lit("Other")), (ok % 5).cast("int") + 1).as("payment_type"),
      element_at(array(lit("Pending"), lit("Success"), lit("Failed")),
        (ok % 3).cast("int") + 1).as("status"))
    val dups = base.filter(col("transaction_id") % 31 === 0)
    val joined = base.unionByName(dups)
      .join(broadcast(t(s, dir, "customer").select(col("c_custkey").as("vu_user_id"))),
        col("user_id") === col("vu_user_id"), "left_outer")
      .join(broadcast(t(s, dir, "part").select(col("p_partkey").as("vp_product_id"),
        col("p_retailprice").as("vp_price"))),
        col("product_id") === col("vp_product_id"), "left_outer")
      .withColumn("price",
        when(col("vp_price").isNotNull,
          when(col("transaction_id") % 37 === 0, col("vp_price") + 5.0)
            .otherwise(round(col("vp_price") * col("quantity"), 2)))
          .otherwise(col("o_totalprice")))
      .withColumn("dup_occ", row_number().over(
        Window.partitionBy("transaction_id").orderBy("product_id", "date")))
    val v = new Validator(
      Rules.transactionRules(col("transaction_id"), col("date"), col("user_id"),
        col("product_id"), col("quantity"), col("payment_type"), col("status"),
        col("price"), col("vu_user_id").isNotNull, col("vp_product_id").isNotNull,
        col("vp_price"), col("dup_occ")),
      "transaction", col("transaction_id"), "transactions")
    v.errors(v.annotate(joined))
  }

  /** DuckDB mirror of q180's expected run-log row: regenerates the same
    * corpus (same md5-keyed arithmetic), evaluates the full contract, the
    * PIT rule and the first-wins drop arithmetic, and assembles the
    * counts. `[[:space:]]` stands in for RE2's `\s` (identical on this
    * corpus — no vertical-tab emails). */
  private lazy val q180Sql: String = {
    val day = "2025-03-01"
    def r(tag: String, id: String) = Synthetic.rndSql(tag, id)
    val emailOk =
      "regexp_matches(email, '^[^[:space:]@]+@[^[:space:]@]+[.][^[:space:]@]+$')"
    s"""WITH users_all AS (
      |  SELECT id AS user_id, 'User ' || CAST(id AS VARCHAR) AS name,
      |    'user' || CAST(id AS VARCHAR) || '@example.com' AS email,
      |    strftime(DATE '2024-01-01'
      |      + CAST(floor(${r("join", "id")} * 700) AS INT), '%Y-%m-%d') AS join_date
      |  FROM range(1, 51) t(id)
      |  UNION ALL SELECT id, '', 'u' || CAST(id AS VARCHAR) || '@example.com',
      |    '$day' FROM range(9000, 9002) t(id)
      |  UNION ALL SELECT id, 'User ' || CAST(id AS VARCHAR), 'not-an-email',
      |    '$day' FROM range(9100, 9102) t(id)
      |  UNION ALL SELECT id, 'User ' || CAST(id AS VARCHAR),
      |    'u' || CAST(id AS VARCHAR) || '@example.com', NULL
      |  FROM range(9200, 9202) t(id)),
      |u_flags AS (SELECT user_id, join_date,
      |    CAST(name IS NULL OR trim(name) = '' AS INT)
      |    + CAST(email IS NULL OR NOT $emailOk AS INT)
      |    + CAST(join_date IS NULL AS INT) AS n_err
      |  FROM users_all),
      |products_all AS (
      |  SELECT id AS product_id,
      |    round(10.0 + ${r("price", "id")} * 90.0, 2) AS price,
      |    CAST(floor(${r("stock", "id")} * 100) AS INT) AS stock,
      |    'Product ' || CAST(id AS VARCHAR) AS name
      |  FROM range(1, 21) t(id)
      |  UNION ALL SELECT id, 15000.0, 10, 'Product ' || CAST(id AS VARCHAR)
      |  FROM range(9000, 9002) t(id)
      |  UNION ALL SELECT id, 25.0, -5, 'Product ' || CAST(id AS VARCHAR)
      |  FROM range(9100, 9102) t(id)),
      |p_flags AS (SELECT product_id, price,
      |    CAST(name IS NULL OR trim(name) = '' AS INT)
      |    + CAST(price >= 10000 AS INT) + CAST(stock < 0 AS INT) AS n_err
      |  FROM products_all),
      |tx_base AS (SELECT id AS transaction_id, '$day' AS date,
      |    CAST(floor(${r("u", "id")} * 50) + 1 AS BIGINT) AS user_id,
      |    CAST(floor(${r("p", "id")} * 20) + 1 AS BIGINT) AS product_id,
      |    CAST(floor(${r("q", "id")} * 5) + 1 AS INT) AS quantity,
      |    ['Visa','MasterCard','Wire Transfer','Other'][
      |      CAST(floor(${r("pay", "id")} * 4) AS INT) + 1] AS payment_type,
      |    CASE WHEN ${r("st", "id")} < 0.9 THEN 'Success' ELSE 'Failed' END
      |      AS status
      |  FROM range(1, 201) t(id)),
      |tx_multi AS (SELECT transaction_id, date, user_id,
      |    CAST(((product_id
      |      + CAST(floor(${r("p2", "transaction_id")} * 19) AS BIGINT)) % 20)
      |      + 1 AS BIGINT) AS product_id,
      |    quantity, payment_type, status
      |  FROM tx_base WHERE ${r("multi", "transaction_id")} < 0.2),
      |tx_valid0 AS (SELECT * FROM tx_base UNION ALL SELECT * FROM tx_multi),
      |tx_priced AS (SELECT transaction_id, date, user_id, product_id,
      |    quantity,
      |    round(round(10.0 + ${r("price", "product_id")} * 90.0, 2)
      |      * quantity, 2) AS price,
      |    payment_type, status
      |  FROM tx_valid0),
      |tx_bad AS (${Synthetic.invalidTxSql(day, 50, 20)}),
      |tx_today AS (SELECT * FROM tx_priced
      |  UNION ALL SELECT * FROM tx_bad WHERE date = '$day'),
      |vusers AS (SELECT user_id, join_date FROM u_flags WHERE n_err = 0),
      |vprods AS (SELECT product_id, price FROM p_flags WHERE n_err = 0),
      |txj AS (SELECT tx.*, vu.user_id IS NOT NULL AS user_known,
      |    vp.product_id IS NOT NULL AS product_known,
      |    vp.price AS vp_price, vu.join_date AS u_join,
      |    row_number() OVER (PARTITION BY tx.transaction_id
      |      ORDER BY tx.transaction_id, tx.user_id, tx.product_id) AS dup_occ
      |  FROM tx_today tx
      |  LEFT JOIN vusers vu ON tx.user_id = vu.user_id
      |  LEFT JOIN vprods vp ON tx.product_id = vp.product_id),
      |tx_err AS (SELECT *,
      |    NOT user_known AS e1, NOT product_known AS e2,
      |    quantity = 0 AS e3, quantity < 0 AS e4,
      |    lower(coalesce(payment_type, ''))
      |      NOT IN ('visa','mastercard','wire transfer','other') AS e5,
      |    lower(coalesce(status, '')) NOT IN ('success','failed') AS e6,
      |    try_strptime(date, '%Y-%m-%d') IS NULL AS e7
      |  FROM txj),
      |tx_stats AS (SELECT
      |    coalesce(sum(CAST(e1 AS INT) + CAST(e2 AS INT) + CAST(e3 AS INT)
      |      + CAST(e4 AS INT) + CAST(e5 AS INT) + CAST(e6 AS INT)
      |      + CAST(e7 AS INT)), 0) AS tx_errors,
      |    coalesce(sum(CAST(dup_occ >= 2 AS INT)), 0) AS w_dup,
      |    coalesce(sum(CAST(vp_price IS NOT NULL
      |      AND NOT (e1 OR e2 OR e3 OR e4 OR e5 OR e6 OR e7)
      |      AND quantity > 0
      |      AND abs(price / quantity - vp_price) > 0.01 AS INT)), 0) AS w_price
      |  FROM tx_err),
      |txv AS (SELECT * FROM tx_err
      |  WHERE NOT (e1 OR e2 OR e3 OR e4 OR e5 OR e6 OR e7)),
      |txl AS (SELECT *, CAST(u_join AS DATE) <= DATE '$day' AS pit_user
      |  FROM txv),
      |lo AS (SELECT count(*) AS n FROM txl WHERE NOT pit_user),
      |grp AS (SELECT transaction_id, product_id, count(*) AS c
      |  FROM txl WHERE pit_user GROUP BY 1, 2),
      |ins AS (SELECT count(*) AS kept, coalesce(sum(c - 1), 0) AS dup_drops
      |  FROM grp)
      |SELECT CAST(1 AS BIGINT) AS run_id,
      |  strftime(DATE '$day', '%Y-%m-%d') AS run_date,
      |  strftime(DATE '$day', '%Y-%m-%d') AS source_date,
      |  'success' AS status,
      |  (SELECT CAST(count(*) AS BIGINT) FROM u_flags WHERE n_err = 0)
      |    AS rows_users_inserted,
      |  (SELECT CAST(count(*) AS BIGINT) FROM p_flags WHERE n_err = 0)
      |    AS rows_products_inserted,
      |  (SELECT CAST(count(*) AS BIGINT) FROM p_flags WHERE n_err = 0)
      |    AS rows_stock_inserted,
      |  (SELECT CAST(kept AS BIGINT) FROM ins) AS rows_transactions_inserted,
      |  CAST((SELECT sum(n_err) FROM u_flags)
      |    + (SELECT sum(n_err) FROM p_flags)
      |    + (SELECT tx_errors FROM tx_stats) AS BIGINT) AS errors,
      |  CAST((SELECT w_dup + w_price FROM tx_stats)
      |    + (SELECT n FROM lo)
      |    + (SELECT dup_drops FROM ins) AS BIGINT) AS warnings""".stripMargin
  }
}
