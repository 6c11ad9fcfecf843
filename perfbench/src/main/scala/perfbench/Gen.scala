package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded input generators. Every value is a hash of (seed, row id, salt),
  * so a table is a pure function of the seed and its size: the same seed
  * gives the same rows under any partitioning, another seed gives other
  * rows of the same shape and count.
  */
object Gen {

  private def h(seed: Long, salt: String, cs: Column*): Column =
    xxhash64((lit(seed) +: lit(salt) +: cs): _*)

  /** Uniform long in [0, n). */
  private def pick(seed: Long, salt: String, n: Long, cs: Column*): Column =
    pmod(h(seed, salt, cs: _*), lit(n))

  /** Uniform double in [-1, 1]. */
  private def unit(seed: Long, salt: String, cs: Column*): Column =
    (pick(seed, salt, 2001L, cs: _*) - 1000) / 1000.0

  /** Integer division of a non-negative long column. */
  private def idiv(c: Column, n: Long): Column = floor(c / n).cast("long")

  private def choose(options: Seq[String], idx: Column): Column =
    element_at(array(options.map(lit): _*), (idx + 1).cast("int"))

  /** Order-independent table checksum: row count and the sum of per-row
    * 64-bit hashes over every column.
    */
  def checksum(df: DataFrame): String = {
    val r = df.select(xxhash64(df.columns.map(col).toIndexedSeq: _*).cast("decimal(38,0)").as("h"))
      .agg(count(lit(1)), sum(col("h"))).head()
    s"${r.getLong(0)}:${Option(r.getDecimal(1)).map(_.toString).getOrElse("0")}"
  }

  // ---- scd2_nightly -------------------------------------------------------

  val Segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")

  /** Staging `customer` role: unique keys 1..n; `buildingShare` of them sit
    * in the BUILDING segment, the segment the refresh re-labels (the
    * seeded churn).
    */
  def customers(spark: SparkSession, seed: Long, n: Long, buildingShare: Double): DataFrame = {
    val id = col("id") + 1
    val other = Segments.filterNot(_ == "BUILDING")
    spark.range(n).select(
      id.as("c_custkey"),
      concat(lit("Customer#"), lpad(id.cast("string"), 9, "0")).as("c_name"),
      when(pick(seed, "seg", 1000000L, id) < (buildingShare * 1000000).toLong, lit("BUILDING"))
        .otherwise(choose(other, pick(seed, "oseg", other.size.toLong, id))).as("c_mktsegment"),
      round(unit(seed, "bal", id) * 5000 + 4000, 2).as("c_acctbal"))
  }

  /** Staging `orders` role: customers 1..customers get orders at random
    * (some none); status and priority drive the refresh's insert image.
    */
  def orders(spark: SparkSession, seed: Long, n: Long, customers: Long): DataFrame = {
    val id = col("id") + 1
    spark.range(n).select(
      id.as("o_orderkey"),
      (pick(seed, "ocust", customers, id) + 1).as("o_custkey"),
      date_add(lit("1992-01-01").cast("date"), pick(seed, "odate", 2400L, id).cast("int")).as("o_orderdate"),
      choose(Seq("F", "O", "P"), pick(seed, "ostat", 3L, id)).as("o_orderstatus"),
      choose(Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"),
        pick(seed, "oprio", 5L, id)).as("o_orderpriority"))
  }

  /** Effective-from stamp of every row of the refreshed dimension. */
  val FoldBase = 1000000000L

  /** The CDC changefeed: `batches` batches of `rows` rows each,
    * (batch, cust_id, mkt_segment, ts, op). Keys 1..customers exist in
    * the dimension; every 20th key is reserved for deletes and never
    * updated, so a deleted key has no later history. Row kinds by share:
    * value updates (some of them no-ops by value), hot keys updated
    * several times within the batch, inserts of new keys, deletes, late
    * rows (older than every dimension row) and null keys.
    */
  def cdc(spark: SparkSession, seed: Long, batches: Int, rows: Int, customers: Long): DataFrame = {
    val b = idiv(col("id"), rows)
    val r = col("id") % rows
    val kind = pick(seed, "kind", 100L, col("id"))
    val updatable = (pick(seed, "ukey", customers - customers / 20 - 1, col("id")) + 1)
    // map 1..m onto the keys that are not multiples of 20
    val updKey = updatable + idiv(updatable - 1, 19)
    val hotKey = {
      val u = pick(seed, "hot", 8L, b) * 19 + pick(seed, "hotk", 5L, col("id")) + 1
      u + idiv(u - 1, 19)
    }
    val delKey = (pick(seed, "dkey", customers / 20, col("id")) + 1) * 20
    val newKey = lit(customers) + col("id") + 1
    val ts = lit(FoldBase) + (b + 1) * 1000000L + r
    val seg = choose(Seq("AUTOMOBILE", "FURNITURE", "HOUSEHOLD"), pick(seed, "cseg", 3L, col("id")))
    spark.range(batches.toLong * rows).select(
      b.cast("int").as("batch"),
      when(kind < 60, updKey).when(kind < 75, hotKey).when(kind < 83, newKey)
        .when(kind < 91, delKey).when(kind < 97, updKey)
        .otherwise(lit(null).cast("long")).as("cust_id"),
      seg.as("mkt_segment"),
      when(kind >= 91 && kind < 97, lit(FoldBase) - 1000 - r).otherwise(ts).as("ts"),
      when(kind < 75, lit("U")).when(kind < 83, lit("I")).when(kind < 91, lit("D"))
        .otherwise(lit("U")).as("op"))
  }

  // ---- corpus_curate ------------------------------------------------------

  private val Stop = Seq("the", "a", "of", "and", "to")
  private val Markers = Seq("join", "scan", "table", "merge", "sort", "stream", "window",
    "batch", "event", "hash", "key", "dup", "part")

  /** Token for (doc, position): mostly vocabulary words, some stopwords and
    * language markers. Documents with id % 20 == 7 carry no markers (their
    * language is unknown and the cleaner drops them).
    */
  private def token(seed: Long, vocab: Long, doc: Column, pos: Column, salt: String): Column = {
    val k = pick(seed, salt + "k", 100L, doc, pos)
    val marker = doc % 20 =!= 7 && k < 6
    when(marker, choose(Markers, pick(seed, salt + "m", Markers.size.toLong, doc, pos)))
      .when(k < 14, choose(Stop, pick(seed, salt + "s", Stop.size.toLong, doc, pos)))
      .otherwise(concat(lit("w"), pick(seed, salt + "w", vocab, doc, pos).cast("string")))
  }

  /** Near-duplicate edit rates; each near copy draws one. */
  val EditRates = Seq(0.02, 0.05, 0.10, 0.15)

  /** (docs(doc_id, text), planted(orig, copy, kind, rate)). `base` original
    * documents of 60..120 tokens, then `exact` verbatim copies and `near`
    * copies with a share of tokens replaced. Copies take ids above the
    * originals; originals are distinct multiples of 20 (never
    * unknown-language), rotated by a seeded offset.
    */
  def corpus(spark: SparkSession, seed: Long, base: Long, exact: Long, near: Long,
      vocab: Long): (DataFrame, DataFrame) = {
    val len = pick(seed, "len", 61L, col("id")) + 60
    val origToks = spark.range(base).select(col("id").as("doc_id"),
      transform(sequence(lit(0L), len - 1), p => token(seed, vocab, col("id"), p, "t")).as("toks"))
    val stride = base / (exact + near)
    val planted = spark.range(exact + near).select(
      (pmod(idiv(col("id") * stride, 20) + pick(seed, "shift", base / 20), lit(base / 20)) * 20).as("orig"),
      (lit(base) + col("id")).as("copy"),
      when(col("id") < exact, lit("exact")).otherwise(lit("near")).as("kind"),
      when(col("id") < exact, lit(0.0))
        .otherwise(choose(EditRates.map(_.toString), pick(seed, "rate", EditRates.size.toLong, col("id")))
          .cast("double")).as("rate"))
    val copies = planted.join(origToks.withColumnRenamed("doc_id", "orig"), "orig")
      .select(col("copy").as("doc_id"),
        transform(col("toks"), (t, p) => when(
          pick(seed, "edit", 1000000L, col("copy"), p) < col("rate") * 1000000,
          concat(lit("e"), pick(seed, "ew", vocab, col("copy"), p).cast("string")))
          .otherwise(t)).as("toks"))
    val docs = origToks.unionByName(copies)
      .select(col("doc_id"), concat_ws(" ", col("toks")).as("text"))
    (docs, planted)
  }

  // ---- ann_serve ----------------------------------------------------------

  /** Clustered vectors: `n` rows with ids from `firstId`, each a seeded
    * cluster centre in [-1, 1]^dim plus noise of scale `noise`.
    */
  def vectors(spark: SparkSession, seed: Long, salt: String, firstId: Long, n: Long,
      dim: Int, clusters: Long, noise: Double): DataFrame = {
    val id = col("id") + firstId
    val k = pick(seed, "cluster" + salt, clusters, id)
    spark.range(n).select(id.as("id"),
      transform(sequence(lit(0), lit(dim - 1)), d =>
        unit(seed, "centre", k, d) + unit(seed, "noise" + salt, id, d) * noise).as("vec"))
  }
}
