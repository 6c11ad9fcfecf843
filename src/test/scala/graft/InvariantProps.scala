package graft

import graft.operators.{Relational, Scd2}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Properties}
import org.scalacheck.Prop.forAll

/** Property-based invariants (SURVEY §5.3) over randomly generated key
  * sets: the algebra the SCD2 pipeline relies on must hold for ANY data,
  * not just the fixtures.
  */
object InvariantProps extends Properties("graft.invariants") {

  private lazy val spark: SparkSession = SparkSession.builder()
    .withExtensions(new graft.plans.GraftExtensions)
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val keys = Gen.listOfN(30, Gen.chooseNum(0L, 15L))

  property("antiInsert ∪ matched = source (keyed partition)") =
    forAll(keys, keys) { (src, tgt) =>
      import spark.implicits._
      val s = src.toDF("id")
      val t = tgt.toDF("id")
      val anti = Scd2.antiInsert(s, t, Seq("id")).count()
      val semi = s.join(t.select("id").distinct(), Seq("id"), "left_semi").count()
      anti + semi == src.size
    }

  property("semiFlag is the 0/1 indicator of key membership") =
    forAll(keys, keys) { (l, r) =>
      import spark.implicits._
      val left = l.distinct.toDF("id")
      val right = r.toDF("rid")
      val flags = Relational.semiFlag(left, "id", right, "rid", "f")
        .as[(Long, Int)].collect().toMap
      val rset = r.toSet
      l.distinct.forall(k => flags(k) == (if (rset.contains(k)) 1 else 0))
    }

  property("changedRows is a multiset difference: |new Δ old| counts") =
    forAll(keys, keys) { (a, b) =>
      import spark.implicits._
      val newS = a.toDF("v")
      val oldS = b.toDF("v")
      val got = Scd2.changedRows(newS, oldS, Seq("v")).count()
      val want = a.groupBy(identity).map { case (k, vs) =>
        math.max(0, vs.size - b.count(_ == k))
      }.sum
      got == want
    }

  property("groupCount never counts null keys and sums to non-null rows") =
    forAll(Gen.listOfN(30, Gen.option(Gen.chooseNum(0L, 8L)))) { ks =>
      import spark.implicits._
      val df = ks.toDF("k")
      val counts = Relational.groupCount(df, "k", "n")
        .as[(Long, Long)].collect()
      counts.map(_._2).sum == ks.count(_.isDefined)
    }

  property("asofJoin payload equals brute-force latest at-or-before match") =
    forAll(Gen.listOfN(12, Gen.zip(Gen.chooseNum(0L, 3L), Gen.chooseNum(0L, 50L))),
      Gen.listOfN(12, Gen.zip(Gen.chooseNum(0L, 3L), Gen.chooseNum(0L, 50L)))) { (ls, rs) =>
      import spark.implicits._
      val left = ls.zipWithIndex.map { case ((k, t), i) => (k, t, 1000L + i) }
        .toDF("k", "ts", "tb")
      val right = rs.zipWithIndex.map { case ((k, t), i) => (k, t, 2000L + i, 2000L + i) }
        .toDF("k", "ts", "tb", "rid")
      val got = Relational.asofJoin(left, right, "k", "ts", "tb", Seq("rid"))
        .select("k", "ts", "tb", "rid")
        .as[(Long, Long, Long, Option[Long])].collect()
      got.forall { case (k, t, _, rid) =>
        val cands = rs.zipWithIndex.filter { case ((rk, rt), _) => rk == k && rt <= t }
        val want = if (cands.isEmpty) None
          // latest ts; among equal ts the max tiebreak (2000+i) sorts last
          else Some(2000L + cands.maxBy { case ((_, rt), i) => (rt, i) }._2)
        rid == want
      }
    }

  property("unionByName row-count additivity with missing columns") =
    forAll(keys, keys) { (a, b) =>
      import spark.implicits._
      val x = a.toDF("id").withColumn("only_x", lit(1))
      val y = b.toDF("id")
      x.unionByName(y, allowMissingColumns = true).count() == a.size + b.size
    }

  property("rangeJoinBinned ≡ naive theta range join for any window") =
    forAll(Gen.listOfN(10, Gen.zip(Gen.chooseNum(0L, 2L), Gen.chooseNum(0L, 100L))),
      Gen.listOfN(10, Gen.zip(Gen.chooseNum(0L, 2L), Gen.chooseNum(0L, 100L))),
      Gen.chooseNum(1L, 40L)) { (ls, rs, w) =>
      import spark.implicits._
      val left = ls.zipWithIndex.map { case ((k, t), i) => (k, t, i.toLong) }
        .toDF("k", "lts", "lid")
      val right = rs.zipWithIndex.map { case ((k, t), i) => (k, t, 100L + i) }
        .toDF("k", "rts", "rid")
      val got = Relational.rangeJoinBinned(left, right, "k", "lts", "rts", -w, 0L)
        .select("lid", "rid").as[(Long, Long)].collect().toSet
      val want = (for {
        ((lk, lt), li) <- ls.zipWithIndex
        ((rk, rt), ri) <- rs.zipWithIndex
        if lk == rk && rt >= lt - w && rt <= lt
      } yield (li.toLong, 100L + ri)).toSet
      got == want
    }

  /** The pure-Scala twin of the polyhash char fold, for reference
    * implementations of the salted-draw operators below.
    */
  private def pureHash(s: String): Long =
    s.foldLeft(0L)((a, c) => (a * 31 + c.toLong) % graft.operators.Dedup.MinhashMod)

  property("packSequences matches sequential reference packing for any units/budget") =
    forAll(Gen.listOfN(20, Gen.chooseNum(1L, 50L)), Gen.chooseNum(5L, 100L)) {
      (units, budget) =>
        import spark.implicits._
        val salt = "|prop-pack"
        val rows = units.zipWithIndex.map { case (n, i) => (i.toLong, "g", n) }
        val got = graft.operators.Sampling
          .packSequences(rows.toDF("id", "g", "n"), Seq("g"), "id", "n", budget, salt)
          .select("id", "pack_id", "spans_next")
          .as[(Long, Long, Int)].collect()
          .map(r => r._1 -> ((r._2, r._3))).toMap
        // sequential reference: same salted order, running prefix, floor chunks
        var prefix = 0L
        val want = rows.sortBy { case (id, _, _) => (pureHash(salt + id.toString), id) }
          .map { case (id, _, n) =>
            val pack = prefix / budget
            val spans = if ((prefix + n - 1) / budget > pack) 1 else 0
            prefix += n
            id -> ((pack, spans))
          }.toMap
        got == want
    }

  property("stratified sample is each stratum's top-quota by the salted draw") =
    forAll(Gen.listOfN(24, Gen.zip(Gen.chooseNum(0, 2),
        Gen.listOfN(6, Gen.chooseNum(97, 122)).map(_.map(_.toChar).mkString))),
      Gen.chooseNum(1, 5)) { (docs, quota) =>
        import spark.implicits._
        val salt = "|prop-sample"
        val rows = docs.zipWithIndex.map { case ((g, t), i) => (i.toLong, s"g$g", t) }
        val got = graft.operators.Sampling
          .stratified(rows.toDF("id", "g", "t"), Seq("g"), "id", "t", lit(quota), salt)
          .select("id", "smp_rank").as[(Long, Int)].collect().toSet
        val want = rows.groupBy(_._2).values.flatMap { grp =>
          grp.sortBy { case (id, _, t) => (pureHash(salt + t), id) }
            .take(quota).zipWithIndex.map { case ((id, _, _), r) => (id, r + 1) }
        }.toSet
        got == want
    }

  property("polyHash kernel matches the pure-Scala fold on any ASCII string") =
    forAll(Gen.listOfN(8, Gen.listOfN(12, Gen.chooseNum(32, 121))
      .map(_.map(_.toChar).mkString))) { strs =>
      import spark.implicits._
      graft.functions.GraftFunctions.register(spark)
      val got = strs.toDF("s")
        .select(graft.operators.Dedup.polyHash(col("s")).as("h"))
        .as[Long].collect().toSeq
      val want = strs.map(_.foldLeft(0L)((a, c) => (a * 31 + c.toLong) % 2147483647L))
      got == want
    }

  property("arrivalSeq: dense 1..n per key, input-order invariant, cap law holds") =
    forAll(Gen.listOfN(40, Gen.zip(Gen.chooseNum(0L, 5L), Gen.chooseNum(0L, 9L)))) { rows =>
      import spark.implicits._
      // unique synthetic event ids complete the (ts, eid) total order
      val withId = rows.zipWithIndex.map { case ((k, t), i) => (k, t, i.toLong) }
      val seqs = Relational.arrivalSeq(withId.toDF("k", "ts", "eid"),
        Seq("k"), Seq(col("ts"), col("eid")))
      // per key the seqs are exactly 1..n (sum = n(n+1)/2 and max = n)
      val dense = seqs.groupBy("k")
        .agg(count(lit(1)).as("n"), sum("seq").as("s"), max("seq").as("m"))
        .collect().forall { r =>
          val (n, s, m) = (r.getLong(1), r.getLong(2), r.getInt(3).toLong)
          s == n * (n + 1) / 2 && m == n
        }
      // reversing arrival order changes nothing: the tiebreak chain is total
      val rev = Relational.arrivalSeq(withId.reverse.toDF("k", "ts", "eid"),
        Seq("k"), Seq(col("ts"), col("eid")))
      val stable = seqs.exceptAll(rev).isEmpty && rev.exceptAll(seqs).isEmpty
      // a downstream cap admits exactly min(cap, n) per key
      val cap = 3
      val kept = seqs.where(col("seq") <= cap).groupBy("k").count().collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val want = withId.groupBy(_._1).map { case (k, g) =>
        k -> math.min(cap, g.size).toLong }
      dense && stable && kept == want
    }

  property("mergeStates(state(A), state(B)) ≡ state(A ∪ B) for any split") =
    forAll(Gen.listOfN(40, Gen.zip(Gen.chooseNum(0L, 6L),
        Gen.chooseNum(-500, 500).map(_ / 100.0)))) { rows =>
      import spark.implicits._
      val I = graft.operators.Incremental
      val df = rows.toDF("user_id", "value")
      val (a, b) = rows.splitAt(rows.size / 3)
      val merged = I.mergeStates(
        I.eventState(a.toDF("user_id", "value")),
        I.eventState(b.toDF("user_id", "value")))
      val full = I.eventState(df)
      merged.exceptAll(full).isEmpty && full.exceptAll(merged).isEmpty
    }

  property("pageRank conserves grid mass and never ranks negative") =
    forAll(Gen.listOfN(10, Gen.zip(Gen.chooseNum(0L, 7L), Gen.chooseNum(0L, 7L)))
      .map(_.collect { case (a, b) if a != b => (math.min(a, b), math.max(a, b)) }
        .distinct)
      .suchThat(_.nonEmpty)) { pairs =>
      import spark.implicits._
      val got = graft.operators.Dedup.pageRank(pairs.toDF("doc_a", "doc_b"), 2)
        .as[(Long, Long)].collect()
      val total = got.map(_._2).sum
      val lost = graft.operators.Dedup.PageRankGrid - total
      got.forall(_._2 >= 0) && lost >= 0 &&
        lost < 100L * (got.size + 2L * pairs.size)
    }

  property("robustFences: q1 <= q3, fences bracket the quartiles, counts consistent") =
    forAll(Gen.listOfN(25, Gen.chooseNum(0L, 40L)).suchThat(_.nonEmpty)) { vs =>
      import spark.implicits._
      val df = vs.map(("g", _)).toDF("g", "v")
      val r = graft.operators.Sampling.robustFences(df, "g", col("v"))
        .select("q1", "q3", "lo_fence", "hi_fence", "n_low", "n_high", "n_rows")
        .as[(Double, Double, Double, Double, Long, Long, Long)].collect().head
      r._1 <= r._2 && r._3 <= r._1 && r._4 >= r._2 &&
        r._7 == vs.size && r._5 + r._6 <= vs.size
    }

  property("shardAudit conserves docs and mass; shards stay in range") =
    forAll(Gen.nonEmptyListOf(Gen.alphaStr), Gen.chooseNum(2, 16)) {
      (texts, shards0) =>
        import spark.implicits._
        // the shrinker explores below the generator's floor; clamp so a
        // shrunk case can't turn into a modulo-by-zero
        val shards = math.max(2, shards0)
        val docs = texts.zipWithIndex
          .map { case (t, i) => (i.toLong, t, t.length.toLong) }
          .toDF("doc_id", "text", "n_chars")
        val audit = graft.operators.Layout.shardAudit(docs, "text", "n_chars", shards)
          .as[(Long, Long, Long, Double, Double)].collect()
        audit.map(_._2).sum == texts.size.toLong &&
          audit.map(_._3).sum == texts.map(_.length.toLong).sum &&
          audit.forall(r => r._1 >= 0 && r._1 < shards)
    }

  property("zoneManifest conserves rows per layout; flag ≡ rectangle miss") =
    forAll(Gen.nonEmptyListOf(
      Gen.zip(Gen.chooseNum(0L, 31L), Gen.chooseNum(0L, 63L)))) { pts =>
      import spark.implicits._
      val df = pts.toDF("a", "b")
      val rows = graft.operators.Layout
        .zoneManifest(df, "a", "b", 16, 64L, 8L, 4L, 9L, 16L)
        .as[(String, Long, Long, Long, Long, Long, Long, Boolean)].collect()
      val b0 = pts.map(_._2).min
      Seq("zorder", "natural").forall(l =>
        rows.filter(_._1 == l).map(_._3).sum == pts.length.toLong) &&
        rows.forall { case (_, _, _, aMin, aMax, bMin, bMax, skip) =>
          skip == (aMax < 4 || aMin > 9 || bMin > b0 + 15 || bMax < b0)
        }
    }

  property("hybridRrfTopK: dense ranks from 1; rrf bounded by 2/(c+1)") =
    forAll(Gen.listOfN(12, Gen.zip(Gen.chooseNum(0L, 2L), Gen.chooseNum(0L, 9L))),
           Gen.listOfN(12, Gen.zip(Gen.chooseNum(0L, 2L), Gen.chooseNum(0L, 9L)))) {
      (s0, l0) =>
        import spark.implicits._
        // rank the raw (q, neighbor) draws per leg to make valid top-k lists
        def leg(xs: List[(Long, Long)]) = xs.distinct.groupBy(_._1).toList
          .flatMap { case (q, g) =>
            g.map(_._2).distinct.sorted.zipWithIndex
              .map { case (n, i) => (q, i + 1, n) }
          }.toDF("q_id", "rnk", "neighbor_id")
        val out = graft.operators.Similarity
          .hybridRrfTopK(leg(s0), leg(l0), 5)
          .as[(Long, Int, Long, Double)].collect()
        out.groupBy(_._1).forall { case (_, g) =>
          g.map(_._2).sorted.toSeq == (1 to g.length).toSeq
        } && out.forall(r => r._4 > 0.0 && r._4 <= 2.0 / 61.0 + 1e-6)
    }

  property("domainDivergence: TV within [0,1]; a lone domain scores exactly 0") =
    forAll(Gen.nonEmptyListOf(Gen.zip(Gen.oneOf("a", "b", "c"),
      Gen.nonEmptyListOf(Gen.oneOf("x", "y", "z", "w")).map(_.mkString(" "))))) {
      rows =>
        import spark.implicits._
        val docs = rows.zipWithIndex
          .map { case ((s, t), i) => (i.toLong, s, t) }
          .toDF("doc_id", "source", "text")
        val tv = graft.operators.Sampling.domainDivergence(docs, "source", col("text"))
          .as[(String, Long, Double)].collect()
        val lone = graft.operators.Sampling
          .domainDivergence(docs.withColumn("source", lit("only")), "source", col("text"))
          .as[(String, Long, Double)].collect()
        tv.forall(r => r._3 >= 0.0 && r._3 <= 1.0) && lone.forall(_._3 == 0.0)
    }

  property("paretoShares: true totals, exact cut sizes, monotone shares, step=1 ≡ sequential") =
    forAll(Gen.nonEmptyListOf(Gen.chooseNum(1L, 3000L)),
        Gen.oneOf(1L, 7L, 100L)) { (cents, step) =>
      import spark.implicits._
      val ks = Seq(10, 25, 50)
      val uv = cents.zipWithIndex.map { case (c, i) => (i.toLong, c) }
        .toDF("user_id", "cents")
      val got = graft.operators.ValueGrid.paretoShares(uv, ks, step)
        .as[(Int, Long, Long, Long, Double)].collect().sortBy(_._1)
      val total = cents.sum
      val sortedDesc = cents.sorted.reverse
      got.forall(_._4 == total) && // grid coarsens ordering, never totals
        ks.zip(got).forall { case (k, r) =>
          r._2 == cents.size.toLong * k / 100 } &&
        got.forall(r => r._3 >= 0 && r._3 <= total) &&
        got.map(_._5).toSeq.sliding(2).forall {
          case Seq(a, b) => a <= b; case _ => true } &&
        // step=1: the whole-value + straddling-partial arithmetic equals
        // a plain sorted prefix sum
        (step != 1L || ks.zip(got).forall { case (k, r) =>
          r._3 == sortedDesc.take(cents.size * k / 100).sum })
    }

  property("applyCdc: replay is a no-op; at most one current row per key; intervals ordered") =
    forAll(
      Gen.listOfN(8, Gen.zip(Gen.chooseNum(0L, 4L), Gen.oneOf("a", "b", "c"))),
      Gen.listOfN(8, Gen.zip(Gen.chooseNum(0L, 5L), Gen.oneOf("a", "b", "x"),
        Gen.chooseNum(5L, 20L), Gen.oneOf("I", "U", "D")))) { (dimRows, chRows) =>
      import spark.implicits._
      val S = graft.streaming.Scd2Stream
      val dim = dimRows.distinctBy(_._1)
        .map { case (k, v) => (k, Option(v), 1L, Option.empty[Long], 1) }
        .toDF("k", "v", "effective_from", "effective_to", "is_current")
      val ch = chRows.map { case (k, v, ts, op) => (k, Option(v), ts, op) }
        .toDF("k", "v", "ts", "op")
      val d1 = S.applyCdc(dim, ch, "k", "v", "ts", "op").localCheckpoint()
      val d2 = S.applyCdc(d1, ch, "k", "v", "ts", "op").localCheckpoint()
      val rows = d1.as[(Long, Option[String], Long, Option[Long], Int)]
        .collect()
      val replayNoop = d2.exceptAll(d1).isEmpty && d1.exceptAll(d2).isEmpty
      val oneCurrent = rows.filter(_._5 == 1).groupBy(_._1)
        .forall(_._2.length == 1)
      val ordered = rows.forall { case (_, _, from, to, cur) =>
        (cur == 1 && to.isEmpty) || (cur == 0 && to.exists(_ > from))
      }
      replayNoop && oneCurrent && ordered
    }

  // applyCdc's rules restated in SQL: the latest change per key by a
  // row_number over (ts desc, op desc, v desc), the null-safe closing
  // rule on the open row it supersedes, and NOT EXISTS first opens
  private val cdcReferenceSql =
    """WITH latest AS (
      |  SELECT k, v, ts, op FROM (
      |    SELECT *, row_number() OVER (
      |      PARTITION BY k ORDER BY ts DESC, op DESC, v DESC) AS rn
      |    FROM cdc_ch WHERE k IS NOT NULL)
      |  WHERE rn = 1),
      |j AS (
      |  SELECT d.*, l.k AS lk, l.v AS lv, l.ts AS lts, l.op AS lop,
      |    (l.op = 'D' AND l.ts > d.effective_from) OR
      |    (NOT (l.op = 'D') AND NOT (d.v <=> l.v)
      |      AND (l.ts > d.effective_from OR d.effective_from IS NULL)) AS closes
      |  FROM cdc_dim d LEFT JOIN latest l ON d.k = l.k AND d.is_current = 1)
      |SELECT k, v, effective_from,
      |  CASE WHEN closes THEN lts ELSE effective_to END AS effective_to,
      |  CASE WHEN closes THEN 0 ELSE is_current END AS is_current
      |FROM j
      |UNION ALL
      |SELECT lk, lv, lts, CAST(NULL AS BIGINT), 1 FROM j
      |WHERE closes AND NOT (lop = 'D')
      |UNION ALL
      |SELECT k, v, ts, CAST(NULL AS BIGINT), 1 FROM latest l
      |WHERE NOT (op = 'D') AND NOT EXISTS (
      |  SELECT 1 FROM cdc_dim d WHERE d.is_current = 1 AND d.k = l.k)""".stripMargin

  // key slots: as DOUBLE keys, slots 0/1 are 0.0/-0.0 and 2/3 two NaN
  // bit patterns, so each pair is one Spark key
  private val cdcDoubles = Vector(0.0, -0.0, Double.NaN,
    java.lang.Double.longBitsToDouble(0x7ff8000000000123L), 1.5, -1.5)
  private def cdcSlotGroup(i: Int): Int = if (i < 4) i / 2 * 2 else i

  property("applyCdc ≡ window / null-safe closes / NOT EXISTS restatement, LONG and DOUBLE keys") =
    forAll(
      // dimension: (slot, value, effective_from, open?)
      Gen.listOfN(6, Gen.zip(Gen.chooseNum(0, 5), Gen.oneOf(Option("a"), Option("b"), None),
        Gen.oneOf(Option(10L), Option(20L), None), Gen.oneOf(true, false))),
      // changes: few values, stamps and ops, so ties are the rule: the
      // same ts with U vs D, null and equal values, late rows, null keys
      Gen.listOfN(10, Gen.zip(Gen.option(Gen.chooseNum(0, 5)),
        Gen.oneOf(Option("a"), Option("b"), None), Gen.oneOf(5L, 10L, 20L, 30L),
        Gen.oneOf("I", "U", "D")))) { (dimRows, chRows) =>
      import spark.implicits._
      val opens = dimRows.filter(_._4).distinctBy(r => cdcSlotGroup(r._1))
      val closed = dimRows.filterNot(_._4)
      // a key as Spark groups it, for comparing rows across the two sides
      def canon(k: Any): String = k match {
        case d: Double => if (d.isNaN) "NaN" else (d + 0.0).toString
        case o => String.valueOf(o)
      }
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.select("k", "v", "effective_from", "effective_to", "is_current").collect()
          .map(r => (canon(r.get(0)), r.toSeq.tail))
          .groupBy(identity).view.mapValues(_.length).toMap
      def leg[K: scala.reflect.runtime.universe.TypeTag](key: Int => K): Boolean = {
        val dim = (opens.map { case (i, v, from, _) => (key(i), v, from, Option.empty[Long], 1) } ++
          closed.map { case (i, v, _, _) => (key(i), v, Option(1L), Option(5L), 0) })
          .toDF("k", "v", "effective_from", "effective_to", "is_current")
        val ch = chRows.map { case (i, v, ts, op) => (i.map(key), v, ts, op) }
          .toDF("k", "v", "ts", "op")
        dim.createOrReplaceTempView("cdc_dim")
        ch.createOrReplaceTempView("cdc_ch")
        val want = rows(spark.sql(cdcReferenceSql))
        // the same dimension RDD-backed: the winner lookup then runs in
        // generated code inside tasks, its table shipped with the plan
        val shipped = spark.createDataFrame(
          spark.sparkContext.parallelize(dim.collect().toSeq, 2), dim.schema)
        Seq(dim, shipped).forall(d =>
          rows(graft.streaming.Scd2Stream.applyCdc(d, ch, "k", "v", "ts", "op")) == want)
      }
      leg(_.toLong) && leg(cdcDoubles)
    }

  property("graft_nearest_cells(p) equals brute-force top-p under (cos desc, id asc)") =
    forAll(
      Gen.listOfN(9, Gen.zip(Gen.chooseNum(0L, 20L),
        Gen.listOfN(4, Gen.chooseNum(-4, 4).map(_.toDouble / 2)))),
      Gen.listOfN(4, Gen.chooseNum(-4, 4).map(_.toDouble / 2)),
      Gen.chooseNum(1, 5)) { (centsRaw, vec, p) =>
      import spark.implicits._
      graft.functions.GraftFunctions.register(spark)
      // zero vectors yield cos = 0/0 = NaN: pick nonzero (the operators
      // only ever fold over real embedding rows, never all-zero ones)
      val cents = centsRaw.map { case (id, v) =>
        (id, if (v.forall(_ == 0.0)) v.updated(0, 1.0) else v)
      }.distinctBy(_._1)
      val q = if (vec.forall(_ == 0.0)) vec.updated(0, 1.0) else vec
      def dot(a: Seq[Double], b: Seq[Double]) =
        a.zip(b).foldLeft(0.0) { case (acc, (x, y)) => acc + x * y }
      val qn = dot(q, q)
      // Scala-side brute force with the documented total order
      val expect = cents
        .map { case (id, cv) => (dot(q, cv) / (math.sqrt(qn) * math.sqrt(dot(cv, cv))), id) }
        .sortBy { case (cos, id) => (-cos, id) }
        .take(p).map(_._2)
      val got = Seq((q, qn)).toDF("vec", "nsq")
        .crossJoin(broadcast(cents.toDF("cent_id", "cvec")
          .withColumn("cn", expr("aggregate(cvec, 0.0D, (a, x) -> a + x * x)"))
          .agg(collect_list(struct(col("cent_id"), col("cvec"), col("cn"))).as("__cents"))))
        .select(call_function("graft_nearest_cells",
          col("__cents"), col("vec"), col("nsq"), lit(p)).as("cells"))
        .collect().head.getSeq[Long](0)
      got == expect
    }

  // ---- GraftIndexFilters.forFile: the per-file folding algebra --------
  // (absent column ⇒ NULL for every row). Reference semantics: SQL's
  // keep-iff-TRUE with unknown→false at the leaves — the mapping every
  // claimed pushdown leaf uses. The fold must agree with direct
  // evaluation on ANY negation-free tree and any row, and its residual
  // may only reference present columns.
  import org.apache.spark.sql.sources._

  private def evalFilter(f: Filter, row: Map[String, Option[Long]]): Boolean =
    f match {
      case EqualTo(c, v) => row(c).contains(v.asInstanceOf[Long])
      // `<>` / NOT IN claimed leaves (round-12): SQL unknown→false —
      // null ≠ v and null NOT IN (…) are both FALSE
      case Not(EqualTo(c, v)) => row(c).exists(_ != v.asInstanceOf[Long])
      case Not(In(c, vs)) => row(c).exists(x => !vs.contains(x))
      case GreaterThan(c, v) => row(c).exists(_ > v.asInstanceOf[Long])
      case LessThan(c, v) => row(c).exists(_ < v.asInstanceOf[Long])
      case In(c, vs) => row(c).exists(x => vs.contains(x))
      case IsNull(c) => row(c).isEmpty
      case IsNotNull(c) => row(c).nonEmpty
      case And(l, r) => evalFilter(l, row) && evalFilter(r, row)
      case Or(l, r) => evalFilter(l, row) || evalFilter(r, row)
      case other => sys.error(s"unexpected $other")
    }

  private val leafGen: Gen[Filter] = for {
    col <- Gen.oneOf("a", "b")
    v <- Gen.chooseNum(0L, 6L)
    f <- Gen.oneOf[Filter](EqualTo(col, v), Not(EqualTo(col, v)),
      GreaterThan(col, v), LessThan(col, v), In(col, Array[Any](v, v + 2)),
      Not(In(col, Array[Any](v, v + 2))), IsNull(col), IsNotNull(col))
  } yield f

  private def treeGen(depth: Int): Gen[Filter] =
    if (depth == 0) leafGen
    else Gen.frequency(
      2 -> leafGen,
      1 -> (for { l <- treeGen(depth - 1); r <- treeGen(depth - 1) } yield And(l, r)),
      1 -> (for { l <- treeGen(depth - 1); r <- treeGen(depth - 1) } yield Or(l, r)))

  private val rowGen: Gen[Option[Long]] =
    Gen.option(Gen.chooseNum(0L, 8L))

  property("forFile(absent ⇒ NULL) ≡ direct evaluation on every row; residuals reference only present columns") =
    forAll(treeGen(3), rowGen) { (f, aVal) =>
      // the file carries only column a; b is absent ⇒ null on every row
      val row = Map("a" -> aVal, "b" -> (None: Option[Long]))
      graft.sources.GraftIndexFilters.forFile(f, Set("a")) match {
        case Left(const) => const == evalFilter(f, row)
        case Right(res) =>
          res.references.forall(_ == "a") &&
            evalFilter(res, row) == evalFilter(f, row)
      }
    }
}
