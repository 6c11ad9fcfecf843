package graft

import graft.functions.{GraftFunctions, VectorOps}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The fused codegen dot product must be BIT-IDENTICAL to the built-in
  * ordered fold (same float64 accumulation order) — that equivalence is
  * what keeps the DuckDB oracle valid after the fast-path swap.
  */
class DotProductSpec extends SparkSpec {

  test("graft_dot ≡ fold dot, bit for bit, on real embeddings") {
    GraftFunctions.register(spark)
    val emb = Tables.embeddings(spark, sf0001).limit(100)
    val a = emb.select(col("vec_id").as("ia"), col("embedding").as("va"))
    val b = emb.select(col("vec_id").as("ib"), col("embedding").as("vb"))
    val pairs = a.join(b, col("ia") < col("ib"))
      .withColumn("fast", VectorOps.dot(col("va"), col("vb")))
      .withColumn("ref", VectorOps.dotFold(col("va"), col("vb")))
    assert(pairs.where(col("fast") =!= col("ref")).count() == 0)
    assert(pairs.count() > 0)
  }

  test("graft_dot is callable from SQL via GraftExtensions") {
    val got = spark.sql(
      "SELECT graft_dot(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d")
      .collect().head.getDouble(0)
    assert(got == 11.0)
  }

  test("graft_dot: length mismatch is NULL, like the fold and the oracle") {
    val r = spark.sql(
      "SELECT graft_dot(array(1.0D, 2.0D), array(3.0D)) AS d").collect().head
    assert(r.isNullAt(0))
  }

  test("graft_dot handles mixed float/double arrays (vec x plane)") {
    import spark.implicits._
    GraftFunctions.register(spark)
    val df = Seq((Seq(1.0f, 2.0f), Seq(0.5, 0.25))).toDF("f", "d")
    val got = df.select(VectorOps.dot(col("f"), col("d")).as("x"))
      .collect().head.getDouble(0)
    assert(got == 1.0)
  }

  /** Shared fixture for the nearest-cell folds: real embeddings as the
    * corpus, every 7th as a centroid — large enough for genuine ties on
    * cosine to be plausible and for the top-p cut to matter.
    */
  private def centFixture() = {
    GraftFunctions.register(spark)
    // filter, not limit: a GlobalLimit plants its own SinglePartition
    // exchange, which would pollute the zero-exchange plan pin
    val emb = Tables.embeddings(spark, sf0001)
      .where(col("vec_id") < 400)
      .select(col("vec_id").as("vid"), col("embedding").as("vec"),
        VectorOps.normSq(col("embedding")).as("nsq"))
    val cents = emb.where(col("vid") % 7 === 0)
      .select(col("vid").as("cent_id"), col("vec").as("cvec"),
        col("nsq").as("cn"))
    (emb, cents)
  }

  /** The assignment helper's (vid, cell, rn): its p = 1 arm is the
    * nearest-centroid kernel, whose one cell has rank 1.
    */
  private def rankedCells(emb: DataFrame, cents: DataFrame, p: Int): DataFrame = {
    val a = graft.operators.Similarity.cellAssignment(emb, cents, col("vec"), col("nsq"), p)
    a.select(col("vid"), col("cell"), if (p == 1) lit(1).as("rn") else col("rn"))
  }

  test("graft_nearest_cells ≡ ranked window top-p, row for row, ranks included") {
    val (emb, cents) = centFixture()
    for (p <- Seq(1, 2, 3)) {
      val fold = rankedCells(emb, cents, p)
      val w = org.apache.spark.sql.expressions.Window.partitionBy("vid")
        .orderBy(col("__ccos").desc, col("cent_id").asc)
      val window = emb.crossJoin(broadcast(cents))
        .withColumn("__ccos",
          VectorOps.cosine(col("vec"), col("cvec"), col("nsq"), col("cn")))
        .withColumn("rn", row_number().over(w))
        .where(col("rn") <= p)
        .select(col("vid"), col("cent_id").as("cell"), col("rn"))
      assert(fold.count() > 0)
      assert(fold.exceptAll(window).count() == 0 &&
        window.exceptAll(fold).count() == 0,
        s"fold/window divergence at p=$p")
    }
  }

  test("graft_nearest_cells: p=1 ≡ graft_nearest_centroid; empty cents → empty array; SQL face") {
    val (emb, cents) = centFixture()
    val withCents = emb.crossJoin(broadcast(
        cents.agg(collect_list(struct(col("cent_id"), col("cvec"), col("cn"))).as("__cents"))))
    val one = withCents.select(col("vid"),
      explode(call_function(GraftFunctions.NearestCellsName,
        col("__cents"), col("vec"), col("nsq"), lit(1))).as("cell"))
    val argmax = withCents
      .select(col("vid"),
        call_function(GraftFunctions.NearestCentroidName,
          col("__cents"), col("vec"), col("nsq")).as("cell"))
    assert(one.exceptAll(argmax).count() == 0 &&
      argmax.exceptAll(one).count() == 0)
    // empty centroid array → empty result array (explode then drops the
    // row, matching the crossJoin-with-empty-cents behavior)
    val empty = spark.sql(
      """SELECT graft_nearest_cells(
           CAST(array() AS array<struct<cent_id: bigint, cvec: array<double>, cn: double>>),
           array(1.0D), 1.0D, 2) AS cells""").collect().head
    assert(empty.getSeq[Long](0).isEmpty)
    // tie-break: two identical centroids, smaller id first
    val tied = spark.sql(
      """SELECT graft_nearest_cells(
           array(named_struct('cent_id', 9L, 'cvec', array(1.0D), 'cn', 1.0D),
                 named_struct('cent_id', 3L, 'cvec', array(1.0D), 'cn', 1.0D)),
           array(2.0D), 4.0D, 2) AS cells""").collect().head
    assert(tied.getSeq[Long](0) == Seq(3L, 9L))
  }

  test("NaN cosines rank FIRST — Double.compare total order matches the descending sort") {
    import spark.implicits._
    GraftFunctions.register(spark)
    // NaN INPUT values (finite divisor → cosine = NaN in BOTH the fold
    // and the declarative form): Spark's descending sort puts NaN first,
    // so the fold must rank it first too (the round-9 fold treated NaN
    // as always-worse — a window-parity break on degenerate vectors).
    // Row-for-row parity under DEFAULT conf (no zero divisor, so no
    // ANSI error): one NaN-poisoned corpus vector (every cosine NaN for
    // that row) and one NaN-poisoned centroid (NaN against every row).
    val emb = Seq((1L, Seq(1.0, 0.0)), (2L, Seq(Double.NaN, 0.0)),
        (3L, Seq(0.5, 0.5)))
      .toDF("vid", "vec")
      .withColumn("nsq", VectorOps.normSq(col("vec")))
    val cents = Seq((10L, Seq(1.0, 0.0)), (20L, Seq(Double.NaN, 1.0)),
        (30L, Seq(0.0, 1.0)))
      .toDF("cent_id", "cvec")
      .withColumn("cn", VectorOps.normSq(col("cvec")))
    for (p <- Seq(1, 2, 3)) {
      val fold = rankedCells(emb, cents, p)
      val w = org.apache.spark.sql.expressions.Window.partitionBy("vid")
        .orderBy(col("__ccos").desc, col("cent_id").asc)
      val window = emb.crossJoin(broadcast(cents))
        .withColumn("__ccos",
          VectorOps.cosine(col("vec"), col("cvec"), col("nsq"), col("cn")))
        .withColumn("rn", row_number().over(w))
        .where(col("rn") <= p)
        .select(col("vid"), col("cent_id").as("cell"), col("rn"))
      assert(fold.exceptAll(window).count() == 0 &&
        window.exceptAll(fold).count() == 0,
        s"fold/window NaN divergence at p=$p")
    }
    // ZERO-NORM inputs are OUTSIDE the window contract (declarative
    // Divide yields NULL → ranks last non-ANSI, errors under ANSI): the
    // fold gives them the same deterministic NaN-first order — never
    // the old sentinel garbage (Long.MaxValue / silent empty array)
    val r = spark.sql(
      """SELECT graft_nearest_centroid(
           array(named_struct('cent_id', 5L, 'cvec', array(1.0D), 'cn', 1.0D),
                 named_struct('cent_id', 7L, 'cvec', array(0.0D), 'cn', 0.0D)),
           array(2.0D), 4.0D) AS cell""").collect().head
    assert(r.getLong(0) == 7L, "zero-norm (NaN-cosine) centroid must win")
    // ties among NaNs break by id asc, ahead of every finite cosine
    val cells = spark.sql(
      """SELECT graft_nearest_cells(
           array(named_struct('cent_id', 5L, 'cvec', array(1.0D), 'cn', 1.0D),
                 named_struct('cent_id', 7L, 'cvec', array(0.0D), 'cn', 0.0D),
                 named_struct('cent_id', 2L, 'cvec', array(0.0D), 'cn', 0.0D)),
           array(2.0D), 4.0D, 3) AS cells""").collect().head
    assert(cells.getSeq[Long](0) == Seq(2L, 7L, 5L))
  }

  test("cellAssignment plan: zero exchange, zero window — map-only over the broadcast centroid array") {
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val (emb, cents) = centFixture()
      import org.apache.spark.sql.execution.SparkPlan
      import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
      import org.apache.spark.sql.execution.window.WindowExec
      // the CORPUS lane must be exchange-free; the one legal shuffle is
      // the |cents|-row SinglePartition collect_list INSIDE the
      // broadcast centroid-array build (bounded, broadcast-sized)
      def corpusShuffles(p: SparkPlan): Seq[SparkPlan] = p match {
        case _: BroadcastExchangeExec => Nil
        case s: ShuffleExchangeExec => s +: s.children.flatMap(corpusShuffles)
        case other => other.children.flatMap(corpusShuffles)
      }
      // both arms of the one assignment helper: p = 1 (nearest
      // centroid) and p > 1 (top-p cells + explode)
      for (p <- Seq(1, 2)) {
        val plan = graft.operators.Similarity
          .cellAssignment(emb, cents, col("vec"), col("nsq"), p)
          .queryExecution.executedPlan
        assert(corpusShuffles(plan).isEmpty,
          s"p=$p assignment must not shuffle the corpus:\n$plan")
        assert(plan.collectWithSubqueries { case w: WindowExec => w }.isEmpty,
          s"p=$p assignment must not rank a window:\n$plan")
      }
    } finally spark.conf.unset("spark.sql.adaptive.enabled")
  }
}
