package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DateType, LongType}
import org.scalatest.funsuite.AnyFunSuite

object TestSpark {
  lazy val spark: SparkSession = Tables.localSession()
  val sf: String = "/root/testdata/sf0.001"
}

class RelationalSpec extends AnyFunSuite {
  import TestSpark._

  test("entry (flagship pivot-ratio) returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("pivot ratio is within [0,1] when both sides non-negative (SURVEY §5.3)") {
    val rows = SparkEntry.queries("q_pivot_ratio")(spark, sf)
      .select("ratio").collect().map(_.getDouble(0))
    assert(rows.nonEmpty)
    assert(rows.forall(r => r >= 0.0 && r <= 1.0))
  }

  test("zscore has ~zero mean and ~unit variance") {
    val z = SparkEntry.queries("q_zscore")(spark, sf)
      .select("z").collect().map(_.getDouble(0))
    val mu = z.sum / z.length
    val sd = math.sqrt(z.map(x => (x - mu) * (x - mu)).sum / (z.length - 1))
    assert(math.abs(mu) < 1e-6)
    assert(math.abs(sd - 1.0) < 1e-3)
  }

  test("freq table shares sum to ~1") {
    val s = SparkEntry.queries("q_freq_table")(spark, sf)
      .select("share").collect().map(_.getDouble(0)).sum
    assert(math.abs(s - 1.0) < 1e-4)
  }

  test("every query declared in queries runs and every oracle key exists") {
    SparkEntry.oracleSql.keys.foreach { k =>
      assert(SparkEntry.queries.contains(k), s"oracle $k has no query")
    }
    SparkEntry.queries.foreach { case (name, fn) =>
      val df = fn(spark, sf)
      assert(df.columns.nonEmpty, name)
      df.count() // must execute
    }
  }

  test("approx_percentile stays inside its rank-error bound vs exact") {
    val sf01 = "/root/testdata/sf0.01"
    val exact = graft.operators.Relational.percentiles(spark, sf01)
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2)))
      .toMap
    val approx = graft.operators.Relational.percentilesApprox(spark, sf01)
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2)))
      .toMap
    assert(approx.keySet === exact.keySet)
    // accuracy=10000 bounds rank error by n/10000; with group n ~ 20k at
    // sf0.01 the value at the approx rank stays within a tight relative
    // band of the exact quantile on this distribution
    approx.foreach { case (k, (p50, p95)) =>
      assert(math.abs(p50 - exact(k)._1) / exact(k)._1 < 0.01,
        s"$k p50 approx=$p50 exact=${exact(k)._1}")
      assert(math.abs(p95 - exact(k)._2) / exact(k)._2 < 0.01,
        s"$k p95 approx=$p95 exact=${exact(k)._2}")
    }
    // the registered q_approx_pct self-gate: every check column true —
    // the driver hashes these, so a broken sketch fails the round
    SparkEntry.queries("q_approx_pct")(spark, sf01).collect().foreach { r =>
      assert(r.getAs[Boolean]("check_p50") && r.getAs[Boolean]("check_p95"),
        s"${r.getString(0)} approx quantile outside its exact rank band")
    }
  }

  test("quantile normalization: cells conserve, reference pooled, adj sums") {
    val rows = SparkEntry.queries("q_quantile_norm")(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5)))
    val total = Tables.lineitem(spark, sf).count()
    // every row lands in exactly one (group, decile) cell
    assert(rows.map(_._3).sum === total)
    // each group has 10 deciles, each holding ~n_g/10 rows
    rows.groupBy(_._1).foreach { case (g, cells) =>
      assert(cells.map(_._2).sorted.toSeq === (1L to 10L), s"group $g tiles")
      val sizes = cells.map(_._3)
      assert(sizes.max <= sizes.min + sizes.sum / 5,
        s"group $g decile balance ${sizes.mkString(",")}")
    }
    // the reference is the pooled mean: recompute decile 1's reference
    // from the emitted cells (weighted by n)
    val d1 = rows.filter(_._2 == 1L)
    val pooled = d1.map(c => c._4 * c._3).sum / d1.map(_._3).sum
    assert(math.abs(d1.head._5 - pooled) < 0.01, "pooled reference")
    // adjustment is exactly ref - group at the emitted rounding
    rows.foreach { case (g, d, _, gm, rm, adj) =>
      assert(math.abs(adj - (rm - gm)) < 2e-4, s"($g,$d) adjustment")
    }
    // normalization is real: at least one cell needs a nonzero shift
    assert(rows.exists(r => math.abs(r._6) > 0.5))
  }

  test("gini/lorenz: brute-force recount; curve convex; shares conserve") {
    val rows = SparkEntry.queries("q_gini")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4)))
    assert(rows.map(_._1).toSeq === (1L to 10L))
    // brute force in memory: same total order, rank formula
    val spend = Tables.orders(spark, sf)
      .groupBy(col("o_custkey"))
      .agg((sum(col("o_totalprice").cast(
        org.apache.spark.sql.types.DecimalType(18, 2))) * 100)
        .cast(org.apache.spark.sql.types.LongType).as("c"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .sortBy { case (k, c) => (c, k) }
    val n = spend.length.toLong
    assert(rows.map(_._2).sum === n)
    val s0 = spend.map(p => BigInt(p._2)).sum
    val s1 = spend.zipWithIndex
      .map { case ((_, c), i) => BigInt(i + 1) * BigInt(c) }.sum
    val gini = (BigDecimal(2 * s1) - BigDecimal((n + 1) * s0)).toDouble /
      (BigDecimal(n) * BigDecimal(s0)).toDouble
    rows.foreach { case (d, _, _, _, g) =>
      assert(math.abs(g - gini) < 1e-5, s"decile $d gini")
    }
    // decile spend shares sum to 1 and the Lorenz curve is convex
    // (ascending-rank deciles carry nondecreasing shares, ending at 1)
    assert(math.abs(rows.map(_._3).sum - 1.0) < 1e-4)
    rows.sliding(2).foreach {
      case Array((_, _, a, ca, _), (_, _, b, cb, _)) =>
        assert(b >= a - 1e-6, "shares must be nondecreasing in rank")
        assert(cb >= ca, "cumulative Lorenz share must be monotone")
      case _ => ()
    }
    assert(math.abs(rows.last._4 - 1.0) < 1e-6)
    assert(gini > 0.0 && gini < 1.0)
  }

  test("HLL sketch stays inside its rsd bound vs the exact distinct") {
    val rows = graft.operators.Relational
      .approxDistinct(spark, "/root/testdata/sf0.01").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val exact = r.getAs[Long]("exact_users").toDouble
      val approx = r.getAs[Long]("approx_users").toDouble
      // rsd=0.02 ⇒ ~3σ relative error 6%
      assert(math.abs(approx - exact) / exact < 0.06,
        s"${r.getString(0)}: approx=$approx exact=$exact")
      // the wider self-gating band the driver hashes must agree a fortiori
      assert(r.getAs[Boolean]("check"), s"${r.getString(0)}: check column")
    }
  }

  test("group_mean_having respects the HAVING gate") {
    val cnts = SparkEntry.queries("q_group_mean_having")(spark, "/root/testdata/sf0.01")
      .select("cnt").collect().map(_.getLong(0))
    assert(cnts.forall(_ > 10))
  }

  test("corr matrix: bounded, symmetric-complete, matches built-in corr") {
    val rows = SparkEntry.queries("q_corr_matrix")(spark, sf).collect()
    assert(rows.length === 6) // C(4,2) unordered pairs, no self-pairs
    rows.foreach { r =>
      val c = r.getDouble(2)
      assert(c >= -1.0 && c <= 1.0, s"corr out of range: $r")
      // independent check: Spark's built-in streaming-covariance corr
      // (a different algorithm) must agree with the exact-moment formula
      val b = Tables.lineitem(spark, sf)
        .agg(corr(col(r.getString(0)), col(r.getString(1)))).head().getDouble(0)
      assert(math.abs(c - b) < 1e-5, s"$r vs built-in $b")
    }
    // every unordered pair appears exactly once, ordered by CorrCols index
    val idx = graft.operators.Relational.CorrCols.zipWithIndex.toMap
    val pairSet = rows.map(r => (r.getString(0), r.getString(1))).toSet
    assert(pairSet.size === 6)
    assert(pairSet.forall { case (x, y) => idx(x) < idx(y) })
  }

  test("resample ffill: contiguous spine, exact fills, auditable gaps") {
    val rows = SparkEntry.queries("q_resample_ffill")(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.nonEmpty)
    // per key: days are exactly the contiguous [min, max] range
    rows.groupBy(_._1).foreach { case (k, v) =>
      val days = v.map(_._2).sorted
      assert(days === (days.head to days.last), s"spine gap for $k")
    }
    // non-gap rows carry their own exact daily count; gap rows carry the
    // most recent preceding non-gap value
    val obs = rows.filter(_._4 == 0L).map(t => (t._1, t._2) -> t._3).toMap
    val daily = Tables.events(spark, sf)
      .select(col("event_type").as("k"),
        datediff(col("ts").cast(DateType),
          lit("1970-01-01").cast(DateType)).cast(LongType).as("d"))
      .filter(col("d") % 3 =!= 1)
      .groupBy("k", "d").count()
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(obs === daily)
    assert(rows.exists(_._4 == 1L), "planted outage produced no gap rows")
    rows.groupBy(_._1).foreach { case (_, v) =>
      var carry = -1L
      v.sortBy(_._2).foreach { case (k, d, f, gap) =>
        if (gap == 0L) carry = obs((k, d))
        assert(f === carry, s"bad fill at ($k,$d)")
      }
    }
  }

  test("winsorize: bounds are R-7 percentiles; clip profile exact") {
    val r = SparkEntry.queries("q_winsorize")(spark, sf).head()
    val (bLo, bHi) = (r.getLong(0), r.getLong(1))
    val n = r.getLong(2)
    // independent R-7 percentile + clip recount in plain Scala
    val cents = Tables.orders(spark, sf)
      .select((col("o_totalprice")
        .cast(org.apache.spark.sql.types.DecimalType(18, 2)) * 100)
        .cast(LongType)).collect().map(_.getLong(0)).sorted
    def r7(p: Double): Double = {
      val h = (cents.length - 1) * p
      val lo = h.toInt
      cents(lo) + (h - lo) * (cents(math.min(lo + 1, cents.length - 1)) -
        cents(lo))
    }
    assert(bLo === BigDecimal(r7(0.05))
      .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong)
    assert(bHi === BigDecimal(r7(0.95))
      .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong)
    assert(n === cents.length)
    assert(r.getLong(3) === cents.count(_ < bLo))
    assert(r.getLong(4) === cents.count(_ > bHi))
    assert(r.getLong(3) > 0 && r.getLong(4) > 0, "clip branches vacuous")
    assert(r.getLong(5) ===
      cents.map(c => math.min(math.max(c, bLo), bHi)).sum)
  }

  test("moving avg: RANGE frame is calendar-aware, exact vs recompute") {
    val rows = SparkEntry.queries("q_moving_avg")(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    assert(rows.nonEmpty)
    // recompute each trailing window from the daily series itself: the
    // frame is day ∈ [d-6, d], NOT "the 7 preceding rows" — on a day-gapped
    // series the two disagree, and this pins the RANGE semantics
    rows.groupBy(_._1).foreach { case (p, v) =>
      val byDay = v.map(t => t._2 -> t._3).toMap
      v.foreach { case (_, d, _, wCents, wDays) =>
        val frame = (d - 6 to d).flatMap(byDay.get)
        assert(wCents === frame.sum, s"w_cents mismatch at ($p,$d)")
        assert(wDays === frame.size && wDays >= 1 && wDays <= 7)
      }
      // the series must actually exercise the gap branch somewhere
      val days = v.map(_._2).sorted
      val gapped = days.zip(days.tail).exists { case (a, b) => b - a > 1 }
      if (gapped)
        assert(v.exists(_._5 < 7L), s"gaps present but every frame full ($p)")
    }
  }

  test("lag gaps: totals telescope to per-customer date ranges") {
    val rows = SparkEntry.queries("q_lag_gaps")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getLong(3) >= 0L)) // min_gap_days
    val o = Tables.orders(spark, sf)
    // each customer's first order has no predecessor
    assert(rows.map(_.getLong(1)).sum ===
      o.count() - o.select("o_custkey").distinct().count())
    // consecutive gaps telescope: Σ gaps = Σ_cust (max day − min day)
    val span = o
      .groupBy("o_custkey")
      .agg((datediff(max(col("o_orderdate")).cast(DateType),
        min(col("o_orderdate")).cast(DateType))).cast(LongType).as("span"))
      .agg(sum("span")).head().getLong(0)
    assert(rows.map(_.getLong(2)).sum === span)
  }

  test("percentile_disc: ANSI smallest-value-with-cume_dist>=p, in data") {
    val rows = SparkEntry.queries("q_percentile_disc")(spark, sf).collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getDouble(2), r.getLong(3)))
    assert(rows.nonEmpty)
    val data = Tables.lineitem(spark, sf)
      .select(col("l_returnflag"), col("l_extendedprice")).collect()
      .map(r => (r.getString(0), r.getDouble(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    // ANSI literally: smallest value whose cume_dist (k/n as a DOUBLE,
    // the same division the engines evaluate) reaches p
    def disc(v: IndexedSeq[Double], p: Double): Double =
      v((1 to v.length).find(k => k.toDouble / v.length >= p).get - 1)
    rows.foreach { case (f, p50, p95, n) =>
      val v = data(f).toIndexedSeq
      assert(n === v.length.toLong)
      assert(p50 === disc(v, 0.5), s"$f p50")
      assert(p95 === disc(v, 0.95), s"$f p95")
      // disc results are ACTUAL data values, unlike cont interpolation
      assert(v.contains(p50) && v.contains(p95))
    }
  }

  test("grouping sets: three profiles from one pass, totals conserve") {
    val rows = SparkEntry.queries("q_grouping_sets")(spark, sf).collect()
      .map(r => (Option(r.getString(0)), Option(r.getString(1)),
        r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
    val total = Tables.orders(spark, sf).count()
    // the grand-total set: both GROUPING flags up, one row
    val grand = rows.filter(t => t._3 == 1 && t._4 == 1)
    assert(grand.length === 1 && grand.head._5 === total)
    // each single-column set partitions the fact exactly
    val byPri = rows.filter(t => t._3 == 0 && t._4 == 1)
    val bySt = rows.filter(t => t._3 == 1 && t._4 == 0)
    assert(byPri.map(_._5).sum === total && bySt.map(_._5).sum === total)
    // and no (priority, status) cross cells exist — the set list is NOT a cube
    assert(!rows.exists(t => t._3 == 0 && t._4 == 0))
    // cents conserve across each profile
    assert(byPri.map(_._6).sum === grand.head._6)
    assert(bySt.map(_._6).sum === grand.head._6)
  }

  test("MAD outliers: medians, MAD and fence match an R-7 recount") {
    val rows = SparkEntry.queries("q_mad")(spark, sf).collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getDouble(2),
        r.getLong(3), r.getLong(4)))
    val data = Tables.lineitem(spark, sf)
      .select(col("l_returnflag"), col("l_extendedprice")).collect()
      .map(r => (r.getString(0), r.getDouble(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    def r7(v: IndexedSeq[Double], p: Double): Double = {
      val h = (v.length - 1) * p; val lo = h.toInt
      v(lo) + (h - lo) * (v(math.min(lo + 1, v.length - 1)) - v(lo))
    }
    rows.foreach { case (f, median, mad, n, out) =>
      val v = data(f).toIndexedSeq
      val med = r7(v, 0.5)
      val devs = v.map(x => math.abs(x - med)).sorted
      val m = r7(devs, 0.5)
      assert(n === v.length.toLong)
      assert(math.abs(median - med) < 1e-3, s"$f median")
      assert(math.abs(mad - m) < 1e-3, s"$f mad")
      assert(out === v.count(x => math.abs(x - med) > 3.0 * 1.4826 * m),
        s"$f outliers")
    }
  }

  test("equi-depth histogram: balanced buckets, tiling ranges, R-7 bounds") {
    val rows = SparkEntry.queries("q_equidepth")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    assert(rows.map(_._1).toSeq === (1L to 10L))
    val n = rows.map(_._2).sum
    // equal depth: every bucket within 2% of n/10 on this distribution
    rows.foreach { case (b, c, _, _) =>
      assert(math.abs(c - n / 10.0) <= n * 0.02, s"bucket $b count $c")
    }
    // buckets tile: each bucket's lo is above the previous bucket's hi
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(b._3 >= a._4, s"overlap between ${a._1} and ${b._1}")
    }
    // boundary recount: bucket k holds exactly the rows with
    // (k-1) strict-greater decile cut-points below them
    val xs = Tables.lineitem(spark, sf)
      .select(col("l_extendedprice")).collect().map(_.getDouble(0))
    val sorted = xs.sorted.toIndexedSeq
    def r7(p: Double): Double = {
      val h = (sorted.length - 1) * p; val lo = h.toInt
      sorted(lo) + (h - lo) *
        (sorted(math.min(lo + 1, sorted.length - 1)) - sorted(lo))
    }
    val bs = (1 until 10).map(i => r7(i / 10.0))
    val expect = xs.groupBy(x => 1L + bs.count(x > _)).view
      .mapValues(_.length.toLong).toMap
    assert(rows.map(t => t._1 -> t._2).toMap === expect)
  }
}
