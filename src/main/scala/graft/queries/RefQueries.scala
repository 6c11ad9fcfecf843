package graft.queries

import graft.{GQuery, QueryGroup, Tables}
import graft.operators.{CustomerDimPipeline, Relational, Scd2}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The reference's 16 SQL blocks (dm:17-232, SURVEY §2) re-expressed over
  * the driver testdata star schema (FIXTURES.md role mapping: customer /
  * orders / lineitem play the staging fact+dim roles, nation / region the
  * small lookup dims, events the comm-pref table). Each query carries its
  * DuckDB-oracle twin with identical column names and deterministic
  * semantics (SURVEY §7.1 gap decisions G1-G10 are encoded on BOTH sides).
  */
object RefQueries extends QueryGroup {

  /** Injected literal "run" timestamp (SURVEY G9): the reference calls
    * now() four times (dm:15,192,200,226); we use one fixed literal so
    * engine and oracle agree bit-for-bit.
    */
  private val TS = "2026-01-01 00:00:00"
  private val CDATE = "2023-06-15 00:00:00"
  private val HIST_FROM = "2020-01-01 00:00:00"

  private def ts(s: String) = to_timestamp(lit(s))

  // ---------------------------------------------------------------- SQL-1
  /** Rename x7 + project + left/inner equi-join chain + key drops
    * (dm:23-45, SURVEY §2 #4-#10): customer -> nation (left) -> region
    * (inner), lookup dims broadcast by Catalyst.
    */
  private def q01(s: SparkSession, d: String): DataFrame = {
    val cust = Tables.customer(s, d)
      .withColumnRenamed("c_custkey", "cust_id")
      .withColumnRenamed("c_name", "cust_name")
      .withColumnRenamed("c_nationkey", "nat_id")
      .withColumnRenamed("c_acctbal", "acct_bal")
      .withColumnRenamed("c_mktsegment", "mkt_segment")
    val nat = Tables.nation(s, d)
      .select(col("n_nationkey"), col("n_name").as("nat_name"), col("n_regionkey"))
    val reg = Tables.region(s, d)
      .select(col("r_regionkey"), col("r_name").as("reg_name"))
    cust
      .join(nat, col("nat_id") === col("n_nationkey"), "left")
      .join(reg, col("n_regionkey") === col("r_regionkey"), "inner")
      .select("cust_id", "cust_name", "acct_bal", "mkt_segment", "nat_name", "reg_name")
  }

  private val q01Sql =
    """SELECT c_custkey AS cust_id, c_name AS cust_name, c_acctbal AS acct_bal,
       c_mktsegment AS mkt_segment, n_name AS nat_name, r_name AS reg_name
       FROM customer
       LEFT JOIN nation ON c_nationkey = n_nationkey
       JOIN region ON n_regionkey = r_regionkey"""

  // ---------------------------------------------------------------- SQL-2
  /** Group-count per key (pandas drops null keys, G2) + left-join attach
    * (dm:52-53, SURVEY §2 #12-#13). Map-side partial count, then one
    * shuffle on the key.
    */
  private def q02(s: SparkSession, d: String): DataFrame = {
    val counts = Relational.groupCount(Tables.orders(s, d), "o_custkey", "acct_count")
    Tables.customer(s, d)
      .select(col("c_custkey").as("cust_id"), col("c_name").as("cust_name"))
      .join(counts, col("cust_id") === col("o_custkey"), "left")
      .drop("o_custkey")
  }

  private val q02Sql =
    """SELECT c_custkey AS cust_id, c_name AS cust_name, acct_count
       FROM customer
       LEFT JOIN (SELECT o_custkey, count(*) AS acct_count FROM orders
                  WHERE o_custkey IS NOT NULL GROUP BY o_custkey) cnt
         ON c_custkey = o_custkey"""

  // ---------------------------------------------------------------- SQL-3
  /** Two-level count: fact x bridge join, then count per business key
    * (credit cards per customer via accounts, dm:57-59, SURVEY §2 #14-#15).
    */
  private def q03(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d).select("l_orderkey")
    val ord = Tables.orders(s, d).select("o_orderkey", "o_custkey")
    val cc = li.join(ord, col("l_orderkey") === col("o_orderkey"), "inner")
    val counts = Relational.groupCount(cc, "o_custkey", "cc_count")
    Tables.customer(s, d)
      .select(col("c_custkey").as("cust_id"), col("c_name").as("cust_name"))
      .join(counts, col("cust_id") === col("o_custkey"), "left")
      .drop("o_custkey")
  }

  private val q03Sql =
    """SELECT c_custkey AS cust_id, c_name AS cust_name, cc_count
       FROM customer
       LEFT JOIN (SELECT o_custkey, count(*) AS cc_count
                  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
                  WHERE o_custkey IS NOT NULL GROUP BY o_custkey) cnt
         ON c_custkey = o_custkey"""

  // ---------------------------------------------------------------- SQL-4
  /** Latest-record-per-key via grouped dense_rank desc + rank==1 filter +
    * left-join attach (dm:65-68, SURVEY §2 #16-#18). Rank key is the
    * unique id column, as in the reference (max addr_id = latest address).
    */
  private def q04(s: SparkSession, d: String): DataFrame = {
    val latest = Relational
      .latestPerKey(Tables.orders(s, d), "o_custkey", "o_orderkey")
      .select(col("o_custkey"), col("o_orderkey").as("latest_order_id"),
        col("o_orderdate").as("latest_order_date"),
        col("o_totalprice").as("latest_total"))
    Tables.customer(s, d)
      .select(col("c_custkey").as("cust_id"), col("c_name").as("cust_name"))
      .join(latest, col("cust_id") === col("o_custkey"), "left")
      .drop("o_custkey")
  }

  private val q04Sql =
    """SELECT c_custkey AS cust_id, c_name AS cust_name,
              latest_order_id, latest_order_date, latest_total
       FROM customer
       LEFT JOIN (SELECT o_custkey, o_orderkey AS latest_order_id,
                         o_orderdate AS latest_order_date,
                         o_totalprice AS latest_total
                  FROM (SELECT *, dense_rank() OVER
                          (PARTITION BY o_custkey ORDER BY o_orderkey DESC) AS rnk
                        FROM orders) r WHERE rnk = 1) l
         ON c_custkey = o_custkey"""

  // ---------------------------------------------------------------- SQL-5
  /** Exists-flag after distinct + left join (dm:69-70, 85-88, SURVEY §2
    * #19-#20, #25-#26): 0/1 loyalty-style indicator, no UDF — a codegen'd
    * conditional. The distinct key set is small, so Catalyst broadcasts it.
    */
  private def q05(s: SparkSession, d: String): DataFrame = {
    val loyal = Tables.orders(s, d).where(col("o_orderstatus") === "F")
    Relational.semiFlag(
      Tables.customer(s, d)
        .select(col("c_custkey").as("cust_id"), col("c_name").as("cust_name")),
      "cust_id", loyal.withColumnRenamed("o_custkey", "cust_id_lpm"),
      "cust_id_lpm", "is_loyal")
  }

  private val q05Sql =
    """SELECT cust_id, cust_name,
              CASE WHEN cust_id_lpm IS NOT NULL THEN 1 ELSE 0 END AS is_loyal
       FROM (SELECT c_custkey AS cust_id, c_name AS cust_name FROM customer) c
       LEFT JOIN (SELECT DISTINCT o_custkey AS cust_id_lpm FROM orders
                  WHERE o_orderstatus = 'F' AND o_custkey IS NOT NULL) l
         ON cust_id = cust_id_lpm"""

  // ---------------------------------------------------------------- SQL-6
  /** Duplicate-induced fan-out left join (dm:69, gap G7): joining a
    * NON-deduplicated key list multiplies matching rows — the reference
    * keeps that behavior, so we replicate it exactly.
    */
  private def q06(s: SparkSession, d: String): DataFrame = {
    val lpm = Tables.orders(s, d).where(col("o_orderstatus") === "P")
      .select(col("o_custkey").as("cust_id_lpm"))
    Tables.customer(s, d)
      .select(col("c_custkey").as("cust_id"), col("c_name").as("cust_name"))
      .join(lpm, col("cust_id") === col("cust_id_lpm"), "left")
  }

  private val q06Sql =
    """SELECT c_custkey AS cust_id, c_name AS cust_name, cust_id_lpm
       FROM customer
       LEFT JOIN (SELECT o_custkey AS cust_id_lpm FROM orders
                  WHERE o_orderstatus = 'P') l
         ON c_custkey = cust_id_lpm"""

  // ---------------------------------------------------------------- SQL-7
  /** Sentinel filter with pandas NaN-passes-`!=` semantics (dm:84, gap G1:
    * `NULL <> x` is NULL in SQL but True in numpy — bridged with an
    * explicit IS NULL arm on both sides), then distinct + exists flag
    * (is_gift, dm:85-88).
    */
  private def q07(s: SparkSession, d: String): DataFrame = {
    val gift = Tables.orders(s, d)
      .where(Relational.neqNullPasses(col("o_orderpriority"), "1-URGENT"))
      .withColumnRenamed("o_custkey", "src_cust_id")
    Relational.semiFlag(
      Tables.customer(s, d)
        .select(col("c_custkey").as("cust_id"), col("c_name").as("cust_name")),
      "cust_id", gift, "src_cust_id", "is_gift")
  }

  private val q07Sql =
    """SELECT cust_id, cust_name,
              CASE WHEN src_cust_id IS NOT NULL THEN 1 ELSE 0 END AS is_gift
       FROM (SELECT c_custkey AS cust_id, c_name AS cust_name FROM customer) c
       LEFT JOIN (SELECT DISTINCT o_custkey AS src_cust_id FROM orders
                  WHERE (o_orderpriority IS NULL OR o_orderpriority <> '1-URGENT')
                    AND o_custkey IS NOT NULL) g
         ON cust_id = src_cust_id"""

  // ---------------------------------------------------------------- SQL-8a
  /** Degenerate compound predicate (dm:92, gap G3): the reference's
    * `str(Series) != col` bug reduces the filter to the first conjunct
    * only; we replicate the degenerate form (single equality), then the
    * referral exists-flag (dm:93-96).
    */
  private def q08(s: SparkSession, d: String): DataFrame = {
    val ref = Tables.orders(s, d).where(col("o_orderstatus") === "F")
      .withColumnRenamed("o_custkey", "src_cust_id")
    Relational.semiFlag(
      Tables.customer(s, d)
        .select(col("c_custkey").as("cust_id"), col("c_name").as("cust_name")),
      "cust_id", ref, "src_cust_id", "is_referral")
  }

  private val q08Sql =
    """SELECT cust_id, cust_name,
              CASE WHEN src_cust_id IS NOT NULL THEN 1 ELSE 0 END AS is_referral
       FROM (SELECT c_custkey AS cust_id, c_name AS cust_name FROM customer) c
       LEFT JOIN (SELECT DISTINCT o_custkey AS src_cust_id FROM orders
                  WHERE o_orderstatus = 'F' AND o_custkey IS NOT NULL) g
         ON cust_id = src_cust_id"""

  // ---------------------------------------------------------------- SQL-8b
  /** Comm-preference flag block (dm:99-116): filter active rows,
    * deterministic dedupe-by-key (gap G6: reference keeps an arbitrary
    * first; canonical keeps min event_id via row_number), conditional
    * literal flags per topic (SURVEY §2 #31/#33), and one conditional
    * assign of a GLOBAL aggregate (#32) — computed as a 1-row aggregate
    * cross-joined back (broadcast), not a partitionless window that would
    * funnel all rows through one task.
    */
  private def q09(s: SparkSession, d: String): DataFrame = {
    val pref = Tables.events(s, d)
      .select(col("user_id").as("cust_id"), col("event_type"), col("event_id"),
        (col("event_id") % 2).as("is_slct"), col("value"))
      .where(col("value") >= 1.0)
    val dedup = Relational.dedupeByKey(pref, "cust_id", "event_id")
    val globalMax = dedup.agg(max(col("is_slct")).as("__gmax"))
    dedup.crossJoin(broadcast(globalMax))
      .select(
        col("cust_id"),
        when(col("event_type") === "click", col("__gmax")).otherwise(lit(0L)).as("is_marketing"),
        when(col("event_type") === "view", 1).otherwise(0).as("is_view"),
        when(col("event_type") === "purchase", 1).otherwise(0).as("is_purchase"),
        when(col("event_type") === "signup", 1).otherwise(0).as("is_signup"),
        when(col("event_type") === "error", 1).otherwise(0).as("is_error"))
  }

  private val q09Sql =
    """WITH pref AS (
         SELECT user_id AS cust_id, event_type, event_id,
                event_id % 2 AS is_slct, value
         FROM events WHERE value >= 1.0),
       dedup AS (
         SELECT * FROM (
           SELECT *, row_number() OVER (PARTITION BY cust_id ORDER BY event_id) AS rn
           FROM pref) t WHERE rn = 1)
       SELECT cust_id,
              CASE WHEN event_type = 'click'
                   THEN (SELECT max(is_slct) FROM dedup) ELSE 0 END AS is_marketing,
              CASE WHEN event_type = 'view' THEN 1 ELSE 0 END AS is_view,
              CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS is_purchase,
              CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END AS is_signup,
              CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS is_error
       FROM dedup"""

  // ---------------------------------------------------------------- SQL-9
  /** The reference's SQL-9 body is dead code (dm:145 KeyError -> except
    * fallback at dm:166, gap G4); the effective behavior is a plain left
    * join of the two previous results on the business key — replicated.
    */
  private def q10(s: SparkSession, d: String): DataFrame = {
    val flags = q09(s, d)
    q07(s, d).join(flags, Seq("cust_id"), "left")
  }

  private val q10Sql =
    s"""WITH sql7 AS ($q07Sql), sql8 AS ($q09Sql)
       SELECT sql7.cust_id, cust_name, is_gift,
              is_marketing, is_view, is_purchase, is_signup, is_error
       FROM sql7 LEFT JOIN sql8 ON sql7.cust_id = sql8.cust_id"""

  // ---------------------------------------------------------------- SQL-10
  /** Role-playing dimension (dm:173-181, gap G10): the same lookup dim
    * joined twice under different output names. Pandas auto-suffixes the
    * collision; Spark would error — so each role is explicitly aliased.
    * Plus the range flag with null->0 (dm:182, #39) and a final aggregate.
    * Both nation roles broadcast.
    */
  private def q11(s: SparkSession, d: String): DataFrame = {
    val nat = Tables.nation(s, d)
    val custNat = nat.select(col("n_nationkey").as("c_nk"), col("n_name").as("cust_nation"))
    val suppNat = nat.select(col("n_nationkey").as("s_nk"), col("n_name").as("supp_nation"))
    Tables.lineitem(s, d).select("l_orderkey", "l_suppkey")
      .join(Tables.orders(s, d).select("o_orderkey", "o_custkey"),
        col("l_orderkey") === col("o_orderkey"), "inner")
      .join(Tables.customer(s, d).select("c_custkey", "c_nationkey"),
        col("o_custkey") === col("c_custkey"), "inner")
      .join(Tables.supplier(s, d).select("s_suppkey", "s_nationkey"),
        col("l_suppkey") === col("s_suppkey"), "inner")
      .join(custNat, col("c_nationkey") === col("c_nk"), "left").drop("c_nk")
      .join(suppNat, col("s_nationkey") === col("s_nk"), "left").drop("s_nk")
      .withColumn("invalid_email", Relational.rangeFlag(col("s_nationkey"), 5, 10))
      .groupBy("cust_nation", "supp_nation", "invalid_email")
      .agg(count(lit(1)).as("n_items"))
  }

  private val q11Sql =
    """SELECT cn.n_name AS cust_nation, sn.n_name AS supp_nation,
              CASE WHEN s_nationkey BETWEEN 5 AND 10 THEN 1 ELSE 0 END AS invalid_email,
              count(*) AS n_items
       FROM lineitem
       JOIN orders ON l_orderkey = o_orderkey
       JOIN customer ON o_custkey = c_custkey
       JOIN supplier ON l_suppkey = s_suppkey
       LEFT JOIN nation cn ON c_nationkey = cn.n_nationkey
       LEFT JOIN nation sn ON s_nationkey = sn.n_nationkey
       GROUP BY 1, 2, 3"""

  // ---------------------------------------------------------------- SQL-11
  /** Schema-aligning union (dm:186-188, #40): pandas `append(ignore_index
    * =True)` outer-aligns columns, missing -> NaN; Spark's exact analog is
    * `unionByName(allowMissingColumns = true)`; DuckDB's is UNION ALL BY
    * NAME.
    */
  private def q12(s: SparkSession, d: String): DataFrame = {
    val a = Tables.customer(s, d).select(col("c_custkey").as("cust_id"),
      col("c_name").as("cust_name"), col("c_acctbal").as("acct_bal"))
    val b = Tables.orders(s, d).where(col("o_orderstatus") === "O")
      .select(col("o_custkey").as("cust_id"), col("o_totalprice").as("total_price"))
    a.unionByName(b, allowMissingColumns = true)
  }

  private val q12Sql =
    """SELECT c_custkey AS cust_id, c_name AS cust_name, c_acctbal AS acct_bal
       FROM customer
       UNION ALL BY NAME
       SELECT o_custkey AS cust_id, o_totalprice AS total_price
       FROM orders WHERE o_orderstatus = 'O'"""

  // ---------------------------------------------------------------- SQL-12
  /** Keyed upsert (dm:191-194, gap G5): the reference's index-aligned
    * `DataFrame.update` canonicalized to left-join + per-column coalesce
    * keyed on the business key, then the injected etl timestamp (G9).
    */
  private def q13(s: SparkSession, d: String): DataFrame = {
    val updates = Tables.orders(s, d).where(col("o_orderstatus") === "F")
      .groupBy(col("o_custkey"))
      .agg(max(col("o_orderdate")).as("last_f_date"))
      .select(col("o_custkey").as("cust_id"),
        lit("FREIGHT").as("mkt_segment_new"), col("last_f_date"))
    val target = Tables.customer(s, d).select(col("c_custkey").as("cust_id"),
      col("c_name").as("cust_name"), col("c_mktsegment").as("mkt_segment"))
    Scd2.keyedUpsert(target, updates, Seq("cust_id"),
        Map("mkt_segment" -> "mkt_segment_new"))
      .join(updates.select("cust_id", "last_f_date"), Seq("cust_id"), "left")
      .withColumn("etl_date", ts(TS))
  }

  private val q13Sql =
    s"""WITH updates AS (
         SELECT o_custkey AS cust_id, 'FREIGHT' AS mkt_segment_new,
                max(o_orderdate) AS last_f_date
         FROM orders WHERE o_orderstatus = 'F' GROUP BY o_custkey)
       SELECT c_custkey AS cust_id, c_name AS cust_name,
              coalesce(mkt_segment_new, c_mktsegment) AS mkt_segment,
              last_f_date, TIMESTAMP '$TS' AS etl_date
       FROM customer LEFT JOIN updates ON c_custkey = cust_id"""

  // ---------------------------------------------------------------- SQL-13
  /** Anti-join insert detection (dm:197-199, #42): the reference's
    * left-join + notnull-flag + mask == a direct left-anti join.
    */
  private def q14(s: SparkSession, d: String): DataFrame =
    Scd2.antiInsert(
      Tables.customer(s, d).select(col("c_custkey").as("cust_id"),
        col("c_name").as("cust_name"), col("c_acctbal").as("acct_bal")),
      Tables.orders(s, d)
        .where(col("o_orderstatus") === "F" && col("o_orderpriority") === "1-URGENT")
        .select(col("o_custkey").as("cust_id")),
      Seq("cust_id"))

  private val q14Sql =
    """SELECT c_custkey AS cust_id, c_name AS cust_name, c_acctbal AS acct_bal
       FROM customer
       WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                         AND o_orderstatus = 'F' AND o_orderpriority = '1-URGENT')"""

  // ---------------------------------------------------------------- SQL-14
  /** Change detection (dm:208, #45, gap G5): rows of the new snapshot
    * differing from the old in any compared column — multiset difference
    * (exceptAll / EXCEPT ALL), keyed not positional.
    */
  private def newSnapshot(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d).withColumn("c_mktsegment",
      when(col("c_mktsegment") === "BUILDING", "BLDG").otherwise(col("c_mktsegment")))

  private def q15(s: SparkSession, d: String): DataFrame =
    Scd2.changedRows(newSnapshot(s, d), Tables.customer(s, d),
      Seq("c_custkey", "c_name", "c_mktsegment", "c_acctbal"))

  private val newSnapshotSql =
    """SELECT c_custkey, c_name,
              CASE WHEN c_mktsegment = 'BUILDING' THEN 'BLDG'
                   ELSE c_mktsegment END AS c_mktsegment,
              c_acctbal
       FROM customer"""

  private val q15Sql =
    s"""SELECT c_custkey, c_name, c_mktsegment, c_acctbal FROM ($newSnapshotSql) n
        EXCEPT ALL
        SELECT c_custkey, c_name, c_mktsegment, c_acctbal FROM customer"""

  // ---------------------------------------------------------------- SQL-15
  /** History expiry (dm:213-217, #46-#48): current history rows for
    * changed keys get effective_to_date from the NEW record (keyed join —
    * gap G5 canonicalization of the cross-frame index-aligned assign),
    * is_current_record -> 0, sys stamp.
    */
  private def q16(s: SparkSession, d: String): DataFrame = {
    val changedKeys = q15(s, d).select(col("c_custkey").as("cust_id"))
    val newDates = Tables.orders(s, d).groupBy(col("o_custkey"))
      .agg(max(col("o_orderdate")).as("udate_party"))
    Tables.customer(s, d)
      .join(changedKeys, col("c_custkey") === col("cust_id"), "inner").drop("cust_id")
      .join(newDates, col("c_custkey") === col("o_custkey"), "left").drop("o_custkey")
      .select(col("c_custkey").as("cust_id"), col("c_name").as("cust_name"),
        col("c_mktsegment").as("mkt_segment"), col("c_acctbal").as("acct_bal"),
        coalesce(col("udate_party"), ts(CDATE)).as("effective_to_date"),
        lit(0).as("is_current_record"),
        ts(TS).as("sys_effective_to_date"))
  }

  private val q16Sql =
    s"""WITH changed AS ($q15Sql),
        nd AS (SELECT o_custkey, max(o_orderdate) AS udate_party
               FROM orders GROUP BY o_custkey)
        SELECT c_custkey AS cust_id, c_name AS cust_name,
               c_mktsegment AS mkt_segment, c_acctbal AS acct_bal,
               coalesce(udate_party, TIMESTAMP '$CDATE') AS effective_to_date,
               0 AS is_current_record,
               TIMESTAMP '$TS' AS sys_effective_to_date
        FROM customer
        JOIN (SELECT c_custkey AS k FROM changed) ck ON c_custkey = k
        LEFT JOIN nd ON c_custkey = o_custkey"""

  // ---------------------------------------------------------------- SQL-16
  /** Flagship SCD2 delta (dm:185-232, SQL-11..16 composed): expired old
    * rows UNION new current rows. The reference's split/append null-fix
    * dance (dm:219-225) collapses to coalesce(udate, cdate) (#49); NaT
    * becomes a typed NULL timestamp; all stamps are injected literals
    * (G9). This is `SparkEntry.entry`.
    */
  private[graft] def q17(s: SparkSession, d: String): DataFrame = {
    val hist = Tables.customer(s, d)
      .select(col("c_custkey").as("cust_id"), col("c_name").as("cust_name"),
        col("c_mktsegment").as("mkt_segment"), col("c_acctbal").as("acct_bal"))
      .withColumn("effective_from_date", ts(HIST_FROM))
      .withColumn("is_current_record", lit(1))
    val udates = Tables.orders(s, d).groupBy(col("o_custkey"))
      .agg(max(col("o_orderdate")).as("__udate"))
    val stg = newSnapshot(s, d)
      .select(col("c_custkey").as("cust_id"), col("c_name").as("cust_name"),
        col("c_mktsegment").as("mkt_segment"), col("c_acctbal").as("acct_bal"))
      .join(udates, col("cust_id") === col("o_custkey"), "left").drop("o_custkey")
      .withColumn("udate_party", coalesce(col("__udate"), ts(CDATE))).drop("__udate")
    // distinct: exceptAll is a multiset, a key could appear twice if the
    // staging side ever carried duplicate business keys — the oracle's
    // SELECT DISTINCT must see the same set
    val changedKeys = Scd2.changedRows(stg, hist,
      Seq("cust_id", "cust_name", "mkt_segment", "acct_bal"))
      .select("cust_id").distinct()
    val expired = hist
      .join(changedKeys, Seq("cust_id"), "inner")
      .join(stg.select(col("cust_id"), col("udate_party")), Seq("cust_id"), "left")
      .withColumn("effective_to_date", col("udate_party")).drop("udate_party")
      .withColumn("is_current_record", lit(0))
      .withColumn("sys_effective_to_date", ts(TS))
      .withColumn("etl_date", ts(TS))
    val newCurrent = stg
      .join(changedKeys, Seq("cust_id"), "inner")
      .withColumn("effective_from_date", col("udate_party"))
      .withColumn("effective_to_date", lit(null).cast("timestamp"))
      .withColumn("is_current_record", lit(1))
      .withColumn("sys_effective_from_date", ts(TS))
      .withColumn("sys_effective_to_date", lit(null).cast("timestamp"))
      .withColumn("etl_date", ts(TS))
      .drop("udate_party")
    expired.unionByName(newCurrent, allowMissingColumns = true)
  }

  private val q17Sql =
    s"""WITH hist AS (
          SELECT c_custkey AS cust_id, c_name AS cust_name,
                 c_mktsegment AS mkt_segment, c_acctbal AS acct_bal,
                 TIMESTAMP '$HIST_FROM' AS effective_from_date,
                 1 AS is_current_record
          FROM customer),
        stg AS (
          SELECT n.c_custkey AS cust_id, n.c_name AS cust_name,
                 n.c_mktsegment AS mkt_segment, n.c_acctbal AS acct_bal,
                 coalesce(ud.udate, TIMESTAMP '$CDATE') AS udate_party
          FROM ($newSnapshotSql) n
          LEFT JOIN (SELECT o_custkey, max(o_orderdate) AS udate
                     FROM orders GROUP BY o_custkey) ud
            ON n.c_custkey = ud.o_custkey),
        changed AS (
          SELECT cust_id, cust_name, mkt_segment, acct_bal FROM stg
          EXCEPT ALL
          SELECT cust_id, cust_name, mkt_segment, acct_bal FROM hist),
        expired AS (
          SELECT h.cust_id, h.cust_name, h.mkt_segment, h.acct_bal,
                 h.effective_from_date,
                 s.udate_party AS effective_to_date,
                 0 AS is_current_record,
                 CAST(NULL AS TIMESTAMP) AS sys_effective_from_date,
                 TIMESTAMP '$TS' AS sys_effective_to_date,
                 TIMESTAMP '$TS' AS etl_date
          FROM hist h
          JOIN (SELECT DISTINCT cust_id FROM changed) ck ON h.cust_id = ck.cust_id
          LEFT JOIN stg s ON h.cust_id = s.cust_id),
        newcur AS (
          SELECT s.cust_id, s.cust_name, s.mkt_segment, s.acct_bal,
                 s.udate_party AS effective_from_date,
                 CAST(NULL AS TIMESTAMP) AS effective_to_date,
                 1 AS is_current_record,
                 TIMESTAMP '$TS' AS sys_effective_from_date,
                 CAST(NULL AS TIMESTAMP) AS sys_effective_to_date,
                 TIMESTAMP '$TS' AS etl_date
          FROM stg s
          JOIN (SELECT DISTINCT cust_id FROM changed) ck ON s.cust_id = ck.cust_id)
        SELECT * FROM expired UNION ALL BY NAME SELECT * FROM newcur"""

  // ------------------------------------------------------------ SQL-8 bis
  /** The INTENDED shape of the reference's hand-rolled one-hot topic
    * flags (dm:105-112, SURVEY §2 #33): a real pivot. The actual code
    * dedupes first, so actual != pivot — q09 replicates the actual; this
    * query provides the canonical pivot operator the category checklist
    * expects. Missing (key, topic) combos are NULL on both sides (Spark
    * pivot-count over no rows, SQL sum of an empty CASE set).
    */
  private val EventTypes = Seq("click", "view", "purchase", "signup", "error")

  private def q18(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(col("user_id").as("cust_id"))
      .pivot("event_type", EventTypes)
      .agg(count(lit(1)))
      .withColumnsRenamed(EventTypes.map(t => t -> s"n_$t").toMap)

  private val q18Sql = {
    val aggs = EventTypes.map(t =>
      s"CAST(sum(CASE WHEN event_type = '$t' THEN 1 END) AS BIGINT) AS n_$t")
      .mkString(", ")
    s"SELECT user_id AS cust_id, $aggs FROM events GROUP BY user_id"
  }

  // ---------------------------------------------------- beyond-reference ops
  /** Rollup subtotals (absent from the reference; closes the grouping-
    * sets category): NULL grouping markers behave identically in Spark
    * rollup and SQL GROUP BY ROLLUP.
    */
  private def q19(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      // exact integer cents: a rounded DOUBLE grand total over the whole
      // table would eventually straddle a rounding boundary as the sum
      // (and its order-dependent fp error) grows with scale
      .withColumn("__cents", round(col("o_totalprice") * 100).cast("long"))
      .rollup(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), sum(col("__cents")).as("total_cents"))

  private val q19Sql =
    """SELECT o_orderstatus, o_orderpriority, count(*) AS n,
              CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS total_cents
       FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)"""

  /** Multiset intersection with REAL multiplicity: each customer key
    * appears min(#open orders, #finished orders) times — intersectAll's
    * min-of-counts semantics, identical to SQL INTERSECT ALL.
    */
  private def q20(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
    o.where(col("o_orderstatus") === "O").select(col("o_custkey").as("cust_id"))
      .intersectAll(
        o.where(col("o_orderstatus") === "F").select(col("o_custkey").as("cust_id")))
  }

  private val q20Sql =
    """SELECT o_custkey AS cust_id FROM orders WHERE o_orderstatus = 'O'
       INTERSECT ALL
       SELECT o_custkey AS cust_id FROM orders WHERE o_orderstatus = 'F'"""

  /** Ordered LIMIT (top-10 orders by price, unique tiebreak makes the
    * selected SET deterministic even though row order isn't compared).
    */
  private def q21(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      .limit(10)
      .select("o_orderkey", "o_custkey", "o_totalprice")

  private val q21Sql =
    """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
       ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10"""

  /** Point-in-time (time-travel) dimension lookup (Scd2.asOf) — the
    * READ side of the SCD2 history the reference spends dm:185-232
    * maintaining. T sits after the last possible update date, so every
    * OPEN row qualifies and every expired row is rejected by its
    * interval — nonzero at every SF (per-key max order dates drift with
    * SF, so a mid-range T is not SF-stable; the crafted-history spec in
    * Scd2Spec covers the mixed-interval cases instead).
    */
  private val ASOF = "2001-09-01 00:00:00"

  private def q22(s: SparkSession, d: String): DataFrame =
    graft.operators.Scd2.asOf(q17(s, d),
        "effective_from_date", "effective_to_date", ts(ASOF))
      .select("cust_id", "cust_name", "mkt_segment", "acct_bal",
        "effective_from_date", "is_current_record")

  private val q22Sql =
    s"""WITH h AS ($q17Sql)
       SELECT cust_id, cust_name, mkt_segment, acct_bal,
              effective_from_date, is_current_record
       FROM h
       WHERE effective_from_date <= TIMESTAMP '$ASOF'
         AND (effective_to_date IS NULL OR TIMESTAMP '$ASOF' < effective_to_date)"""

  // ------------------------------------------------- whole program
  /** The three outputs of `CustomerDimPipeline.run` — the reference's
    * whole proc in one call (dm:17-232) — each against the reference's
    * own formulation: the staged snapshot as a left-join chain, the
    * upsert as a keyed left join, the insert as NOT EXISTS, and the
    * delta's change detection as the multiset EXCEPT ALL the pipeline
    * replaces with a keyed join.
    */
  private def pipeline(pick: CustomerDimPipeline.Outputs => DataFrame)(
      s: SparkSession, d: String): DataFrame =
    pick(CustomerDimPipeline.run(s, d, TS, CDATE, HIST_FROM))

  private val stagedSql =
    """WITH ac AS (
          SELECT o_custkey, count(*) AS acct_count FROM orders
          WHERE o_custkey IS NOT NULL GROUP BY o_custkey),
        lt AS (
          SELECT o_custkey, o_orderdate AS latest_order_date FROM (
            SELECT o_custkey, o_orderdate,
                   dense_rank() OVER (PARTITION BY o_custkey
                                      ORDER BY o_orderkey DESC) AS r
            FROM orders) WHERE r = 1),
        staged AS (
          SELECT c_custkey AS cust_id, c_name AS cust_name,
                 c_mktsegment AS mkt_segment, c_acctbal AS acct_bal,
                 ac.acct_count, lt.latest_order_date
          FROM customer
          LEFT JOIN ac ON c_custkey = ac.o_custkey
          LEFT JOIN lt ON c_custkey = lt.o_custkey),
        newsnap AS (
          SELECT cust_id, cust_name,
                 CASE WHEN mkt_segment = 'BUILDING' THEN 'BLDG'
                      ELSE mkt_segment END AS mkt_segment,
                 acct_bal, acct_count, latest_order_date
          FROM staged)"""

  private val pipelineUpsertSql =
    s"""$stagedSql
        SELECT d.cust_id, d.cust_name,
               coalesce(u.mkt_segment, d.mkt_segment) AS mkt_segment,
               d.acct_bal, d.acct_count, d.latest_order_date,
               TIMESTAMP '$TS' AS etl_date
        FROM staged d LEFT JOIN newsnap u ON d.cust_id = u.cust_id"""

  private val pipelineInsertSql =
    s"""$stagedSql
        SELECT n.*, TIMESTAMP '$TS' AS etl_date
        FROM newsnap n
        WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = n.cust_id
                          AND o_orderstatus = 'F' AND o_orderpriority = '1-URGENT')"""

  private val pipelineDeltaSql =
    s"""$stagedSql,
        changed AS (
          SELECT DISTINCT cust_id FROM (
            SELECT cust_id, cust_name, mkt_segment, acct_bal FROM newsnap
            EXCEPT ALL
            SELECT cust_id, cust_name, mkt_segment, acct_bal FROM staged))
        SELECT h.*, TIMESTAMP '$HIST_FROM' AS effective_from_date,
               0 AS is_current_record,
               coalesce(h.latest_order_date, TIMESTAMP '$CDATE') AS effective_to_date,
               CAST(NULL AS TIMESTAMP) AS sys_effective_from_date,
               TIMESTAMP '$TS' AS sys_effective_to_date,
               TIMESTAMP '$TS' AS etl_date
        FROM staged h JOIN changed USING (cust_id)
        UNION ALL BY NAME
        SELECT n.*,
               coalesce(n.latest_order_date, TIMESTAMP '$CDATE') AS effective_from_date,
               1 AS is_current_record,
               CAST(NULL AS TIMESTAMP) AS effective_to_date,
               TIMESTAMP '$TS' AS sys_effective_from_date,
               CAST(NULL AS TIMESTAMP) AS sys_effective_to_date,
               TIMESTAMP '$TS' AS etl_date
        FROM newsnap n JOIN changed USING (cust_id)"""

  override val queries: Seq[GQuery] = Seq(
    GQuery("q01_denorm_joins", q01, Some(q01Sql), "SQL-1: rename/project/join chain"),
    GQuery("q02_group_count", q02, Some(q02Sql), "SQL-2/3: group-count + attach"),
    GQuery("q03_two_level_count", q03, Some(q03Sql), "SQL-3: bridged count"),
    GQuery("q04_latest_per_key", q04, Some(q04Sql), "SQL-4/5: dense_rank latest"),
    GQuery("q05_exists_flag", q05, Some(q05Sql), "SQL-4: distinct+left-join flag"),
    GQuery("q06_fanout_join", q06, Some(q06Sql), "G7: non-deduped fan-out join"),
    GQuery("q07_sentinel_gift", q07, Some(q07Sql), "SQL-6: G1 null-passes-!= + flag"),
    GQuery("q08_referral_flag", q08, Some(q08Sql), "SQL-7: G3 degenerate predicate"),
    GQuery("q09_pref_flags", q09, Some(q09Sql), "SQL-8: dedupe+flags+global max"),
    GQuery("q10_fallback_join", q10, Some(q10Sql), "SQL-9: G4 dead-branch fallback"),
    GQuery("q11_roleplay_dim", q11, Some(q11Sql), "SQL-10: role-playing dim + range flag"),
    GQuery("q12_union_by_name", q12, Some(q12Sql), "SQL-11: schema-aligning union"),
    GQuery("q13_keyed_upsert", q13, Some(q13Sql), "SQL-12: G5 keyed upsert"),
    GQuery("q14_anti_insert", q14, Some(q14Sql), "SQL-13: anti-join insert"),
    GQuery("q15_change_detect", q15, Some(q15Sql), "SQL-14: exceptAll change detect"),
    GQuery("q16_expire", q16, Some(q16Sql), "SQL-15: history expiry"),
    GQuery("q17_scd2_delta", q17, Some(q17Sql), "SQL-16: flagship SCD2 delta"),
    GQuery("q18_pivot_intended", q18, Some(q18Sql), "SQL-8 intended form: groupBy().pivot()"),
    GQuery("q19_rollup", q19, Some(q19Sql), "grouping sets: rollup subtotals"),
    GQuery("q20_intersect", q20, Some(q20Sql), "multiset intersection"),
    GQuery("q21_top_limit", q21, Some(q21Sql), "ordered LIMIT top-k"),
    GQuery("q22_asof_dim", q22, Some(q22Sql), "point-in-time SCD2 lookup (time travel over dwd_hstr)"),
    GQuery("pipeline_upsert", pipeline(_.upsertImage), Some(pipelineUpsertSql),
      "whole program: dwd_customer upsert image (SQL-12)"),
    GQuery("pipeline_insert", pipeline(_.insertImage), Some(pipelineInsertSql),
      "whole program: new-customer insert image (SQL-13)"),
    GQuery("pipeline_delta", pipeline(_.histDelta), Some(pipelineDeltaSql),
      "whole program: dwd_hstr SCD2 delta (SQL-14..16)"))
}
