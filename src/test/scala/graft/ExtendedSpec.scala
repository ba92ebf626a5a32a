package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class ExtendedSpec extends AnyFunSuite {
  import SparkTestSession._

  private def q(name: String) = SparkEntry.queries(name)(spark, sf)

  test("as-of join: every click appears once; matches are purchases at-or-before") {
    val ev = graft.sources.Tables.events(spark, sf)
    val clicks = ev.where(col("event_type") === "click").count()
    val rows = q("q_join_asof").collect()
    assert(rows.length == clicks)
    // spot-verify the as-of invariant on matched rows
    val purchases = ev.where(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("pts"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    rows.filter(!_.isNullAt(3)).foreach { r =>
      val (pUser, pTs) = purchases(r.getLong(3))
      assert(pUser == r.getLong(1), "matched purchase must be same user")
      assert(pTs <= r.getLong(2), "matched purchase must not be after click")
    }
  }

  test("typed aggregator share is within [0,1] and covers all flags") {
    val rows = q("q_typed_agg").collect()
    assert(rows.length == 3)
    assert(rows.forall { r => val s = r.getDouble(1); s >= 0 && s <= 1 })
  }

  test("sessionize matches an independent in-memory reimplementation") {
    val ev = graft.sources.Tables.events(spark, sf)
      .select(col("event_id"), col("user_id"), unix_micros(col("ts")))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val gapUs = 43200000000L
    // expected: per user, sorted by (ts, event_id), break on gap > 12 h
    val expected = ev.groupBy(_._2).toSeq.flatMap { case (uid, es) =>
      val sorted = es.sortBy(e => (e._3, e._1))
      var idx = 0L; var prev = Long.MinValue
      sorted.map { e =>
        if (prev == Long.MinValue || e._3 - prev > gapUs) idx += 1
        prev = e._3
        ((uid, idx), e._3)
      }.toSeq
    }.groupBy(_._1).map { case (k, ms) =>
      val ts = ms.map(_._2)
      k -> ((ts.size.toLong, ts.min, ts.max))
    }
    val rows = q("q_event_sessionize").collect()
    assert(rows.length == expected.size)
    assert(rows.map(_.getLong(2)).sum == ev.length, "events conserved")
    rows.foreach { r =>
      val k = (r.getLong(0), r.getLong(1))
      val (n, mn, mx) = expected(k)
      assert(r.getLong(2) == n && r.getLong(3) == mn && r.getLong(4) == mx,
        s"session $k mismatch")
    }
  }

  test("PSI drift matches an independent in-memory reimplementation") {
    val split = java.time.LocalDateTime.parse("2024-01-16T00:00:00")
      .toInstant(java.time.ZoneOffset.UTC)
    val ev = graft.sources.Tables.events(spark, sf)
      .select(col("event_type"), col("value"), unix_micros(col("ts")))
      .collect()
      .map(r => (r.getString(0), r.getDouble(1),
        r.getLong(2) < split.getEpochSecond * 1000000L))
    val rows = q("q_drift_psi").collect()
    assert(rows.map(_.getString(0)).sorted.toSeq ==
      ev.map(_._1).distinct.sorted.toSeq)
    rows.foreach { r =>
      val t = r.getString(0)
      val es = ev.filter(_._1 == t)
      def cnts(ref: Boolean) = {
        val a = Array.fill(10)(0L)
        es.filter(_._3 == ref).foreach { e =>
          a(math.min(9, math.floor(e._2 / 50.0).toInt)) += 1
        }
        a
      }
      val (c1, c2) = (cnts(true), cnts(false))
      val (n1, n2) = (c1.sum, c2.sum)
      assert(r.getLong(1) == n1 && r.getLong(2) == n2)
      val psi = (0 until 10).map { b =>
        val p1 = (c1(b) + 1).toDouble / (n1 + 10).toDouble
        val p2 = (c2(b) + 1).toDouble / (n2 + 10).toDouble
        math.floor(((p2 - p1) * math.log(p2 / p1)) * 1e9).toLong
      }.sum
      assert(r.getLong(3) == psi, s"$t psi ${r.getLong(3)} != $psi")
      assert(r.getLong(3) >= -10L) // each term ≥ 0 pre-floor
    }
  }

  test("binned interval join equals a brute-force overlap scan") {
    val ev = graft.sources.Tables.events(spark, sf)
      .select(col("event_id"), col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("m"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
    // rebuild the 12h-gap sessions per user
    val sessions = ev.groupBy(_._2).toSeq.flatMap { case (u, es) =>
      val sorted = es.sortBy(e => (e._4, e._1))
      var idx = 0L
      var prev = Long.MinValue
      sorted.map { e =>
        if (prev == Long.MinValue || e._4 - prev > 43200000000L) idx += 1
        prev = e._4
        (u, idx, e._4)
      }.groupBy(t => (t._1, t._2)).map { case (k, ts) =>
        (k._1, k._2, ts.map(_._3).min, ts.map(_._3).max)
      }
    }
    val incidents = ev.filter(_._3 == "error").map(_._4)
    val expected = sessions.map { case (u, i, st, en) =>
      (u, i) -> incidents.count(its => st < its + 3600000000L && its <= en)
        .toLong
    }.toMap
    val rows = q("q_join_interval").collect()
    assert(rows.length == sessions.size)
    rows.foreach { r =>
      assert(r.getLong(4) == expected((r.getLong(0), r.getLong(1))),
        s"session (${r.getLong(0)},${r.getLong(1)})")
    }
    // both sides of the gate must occur: hit sessions and clean sessions
    assert(rows.exists(_.getLong(4) > 0) && rows.exists(_.getLong(4) == 0))
  }

  test("histogram-sketch quantiles land within one bucket of exact") {
    val xs = graft.sources.Tables.lineitem(spark, sf)
      .select(col("l_extendedprice")).collect().map(_.getDouble(0)).sorted
    val span = (xs.last - xs.head) / 100.0
    val rows = SparkEntry.queries("q_agg_quantile_hist")(spark, sf).collect()
    assert(rows.map(_.getDouble(0)).toSeq == Seq(0.5, 0.9, 0.99))
    rows.foreach { r =>
      val p = r.getDouble(0)
      val est = r.getLong(2) / 1000.0
      // exact lower quantile at rank ceil(p·n)
      val exact = xs(math.ceil(p * xs.length).toInt - 1)
      assert(math.abs(est - exact) <= span + 1e-3,
        s"p=$p est=$est exact=$exact span=$span")
    }
  }

  test("approx_count_distinct is within rsd bounds of exact") {
    val exact = graft.sources.Tables.lineitem(spark, sf)
      .groupBy(col("l_returnflag"))
      .agg(countDistinct(col("l_partkey")), countDistinct(col("l_orderkey")))
      .collect().map(r => r.getString(0) -> Seq(r.getLong(1), r.getLong(2)))
      .toMap
    q("q_agg_approx").collect().foreach { r =>
      exact(r.getString(0)).zipWithIndex.foreach { case (e, i) =>
        val est = r.getLong(i + 1)
        assert(math.abs(est - e).toDouble / e < 0.1,
          s"${r.schema.fieldNames(i + 1)} $est too far from exact $e")
      }
    }
  }

  test("hllpp_count equals approx_count_distinct bit for bit, sort fallback included") {
    import graft.functions.HllppAgg.hllpp_count
    // sf0.01: 500 groups over 7 input partitions, so every partial
    // aggregate holds more than the 128 keys that switch
    // ObjectHashAggregate to its sort-based fallback
    val sf01 = new java.io.File(sf).getParent + "/sf0.01"
    val li = graft.sources.Tables.lineitem(spark, sf01)
      .select((col("l_partkey") % 500).cast("long").as("g"), col("l_orderkey"),
        col("l_shipdate").cast("string").as("ship_str"),
        when(col("l_linenumber") % 3 =!= 0, col("l_suppkey")).as("some_null"),
        lit(null).cast("long").as("all_null"))
      .repartition(7)
    val minKeys = li.groupBy(spark_partition_id()).agg(countDistinct(col("g")))
      .collect().map(_.getLong(1)).min
    assert(minKeys > 128, s"a partition holds only $minKeys keys")
    val cols = Seq("l_orderkey", "ship_str", "some_null", "all_null")
    for (rsd <- Seq(0.01, 0.05)) {
      def estimates(f: (Column, Double) => Column) =
        li.groupBy(col("g")).agg(f(col(cols.head), rsd),
            cols.tail.map(c => f(col(c), rsd)): _*)
          .collect().map(r => r.getLong(0) -> (1 to cols.size).map(r.getLong))
          .toMap
      val ours = estimates(hllpp_count)
      val builtin = estimates(approx_count_distinct)
      assert(ours.size == 500 && ours.keySet == builtin.keySet)
      val bad = ours.keys.filter(k => ours(k) != builtin(k))
      if (bad.nonEmpty) fail(s"rsd $rsd: ${bad.size} groups differ, e.g. " +
        bad.take(3).map(k => s"$k: ${ours(k)} vs ${builtin(k)}").mkString("; "))
      assert(ours.values.forall(_.last == 0L), "all-null column must estimate 0")
    }
  }

  test("cosine_sim is callable from SQL after registration") {
    val rows = q("q_sim_cosine_sql").collect()
    assert(rows.nonEmpty)
    // cos is emitted floor-quantized at 1e-6 (BIGINT) for oracle parity
    assert(rows.forall { r => val c = r.getLong(2); c >= -1000001L && c <= 1000000L })
  }

  test("registerAll registers all 10 SQL functions on a fresh child session") {
    val s2 = spark.newSession()
    graft.functions.GraftFunctions.registerAll(s2)
    // every registered name, called once from SQL: a registration that
    // is silently dropped fails here with UNRESOLVED_ROUTINE
    val r = s2.sql("""
      SELECT cosine_sim(array(1.0F, 0.0F), array(1.0F, 0.0F)),
             rolling_fingerprint('abcdefgh', 4),
             srp_band_keys(array(1.0D, -2.0D, 0.5D), 4, 3),
             decimal_dot(array(1.5D, 2.0D), array(2.0D, 0.25D)),
             decimal_sqdist(array(1.0D, 2.0D), array(4.0D, 6.0D)),
             remove_tokens_at(array('a', 'b', 'c'), array(1)),
             jaro_winkler('martha', 'marhta'),
             damerau_levenshtein('ab', 'ba'),
             nfc_normalize('e\u0301')""").head
    assert(math.abs(r.getDouble(0) - 1.0) < 1e-12)
    assert(!r.isNullAt(1))
    assert(r.getSeq[Long](2).size == 4)
    assert(r.getDecimal(3).compareTo(new java.math.BigDecimal("3.5")) == 0)
    assert(r.getDecimal(4).compareTo(new java.math.BigDecimal("25")) == 0)
    assert(r.getString(5) == "a c")
    assert(math.abs(r.getDouble(6) - 0.9611) < 1e-4)
    assert(r.getLong(7) == 1L)
    assert(r.getString(8) == "\u00e9")
    val grams = s2.sql("SELECT word_ngrams('a b c', 2)").collect()
    assert(grams.map(_.getString(1)).toSeq == Seq("a b", "b c"))
  }

  test("salted two-phase aggregation equals the plain groupBy") {
    val salted = q("q_agg_salted").collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getLong(2))).toSet
    val plain = graft.sources.Tables.lineitem(spark, sf)
      .groupBy(col("l_returnflag"))
      .agg(sum(col("l_quantity").cast("decimal(30,4)")).cast("double")
        .as("sum_qty"), count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2))).toSet
    assert(salted == plain)
  }

  test("custom TopKPerGroup operator equals the window spelling") {
    import spark.implicits._
    // adversarial input: groups interleaved across many partitions, ties
    // on score resolved by the tiebreak, one group smaller than k
    val df = (0 until 2000).map { i =>
      (s"g${i % 7}", (i * 37 % 19).toDouble, i.toLong)
    }.toDF("g", "score", "id")
      .union(Seq(("tiny", 1.0, 9999L)).toDF("g", "score", "id"))
      .repartition(13)
    val custom = graft.plans.TopK.topKPerGroup(df, Seq("g"), "score", "id", 5)
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2))).toSet
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("g"))
      .orderBy(col("score").desc, col("id"))
    val window = df.withColumn("rn", row_number().over(w))
      .where(col("rn") <= 5).drop("rn")
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2))).toSet
    assert(custom == window)
    assert(custom.count(_._1 == "tiny") == 1, "undersized group keeps all rows")
  }

  test("TopKPerGroup fails fast (not OOM) when groups exceed the budget") {
    import spark.implicits._
    import graft.plans.TopK
    // high-cardinality group column: every row its own group — the
    // degenerate input where the heap map grows with the data and the
    // operator's no-spill contract is violated
    val wide = (0 until 50000).map { i =>
      (s"group_$i", i.toDouble, i.toLong)
    }.toDF("g", "score", "id").repartition(4)
    spark.conf.set(TopK.BudgetConfKey, "65536")
    try {
      val e = intercept[org.apache.spark.SparkException] {
        TopK.topKPerGroup(wide, Seq("g"), "score", "id", 3).count()
      }
      val msg = Option(e.getCause).fold(e.getMessage)(_.getMessage)
      assert(msg.contains(TopK.BudgetConfKey),
        s"failure must name the budget conf, got: $msg")
      assert(msg.contains("window spelling"),
        "failure must point at the spilling fallback")
    } finally spark.conf.unset(TopK.BudgetConfKey)
    // same input under the default budget completes fine
    assert(graft.plans.TopK.topKPerGroup(wide, Seq("g"), "score", "id", 3)
      .count() == 50000)
  }

  test("TopKPerGroup window fallback completes where the heap mode fails fast") {
    import spark.implicits._
    import graft.plans.TopK
    val wide = (0 until 50000).map { i =>
      (s"group_$i", i.toDouble, i.toLong)
    }.toDF("g", "score", "id").repartition(4)
    spark.conf.set(TopK.BudgetConfKey, "65536")
    try {
      // heap mode: documented fail-fast under the tiny budget
      intercept[org.apache.spark.SparkException] {
        TopK.topKPerGroup(wide, Seq("g"), "score", "id", 3).count()
      }
      // window mode: same over-budget input, same session conf — plans
      // the sorting (spilling) spelling and completes
      spark.conf.set(TopK.FallbackConfKey, "window")
      val viaWindow = TopK.topKPerGroup(wide, Seq("g"), "score", "id", 3)
      assert(viaWindow.queryExecution.executedPlan.toString.contains("Window"),
        "fallback must actually plan the window spelling")
      assert(viaWindow.count() == 50000)
    } finally {
      spark.conf.unset(TopK.BudgetConfKey)
      spark.conf.unset(TopK.FallbackConfKey)
    }
  }

  test("csv and json round-trips preserve aggregates from parquet") {
    val fromCsv = q("q_source_csv").collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    val direct = graft.sources.Tables.orders(spark, sf)
      .groupBy(col("o_orderstatus")).count()
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(fromCsv == direct)
    assert(q("q_source_json").collect().map(_.getLong(1)).sum ==
      graft.sources.Tables.customer(spark, sf).count())
  }

  test("skyline equals the brute-force dominance filter") {
    val base = graft.sources.Tables.lineitem(spark, sf)
      .groupBy(col("l_suppkey"))
      .agg(sum(col("l_quantity")).cast("long").as("qty"),
        expr("CAST(SUM(CAST(l_extendedprice AS DECIMAL(30,4))) * 100 " +
          "AS BIGINT)").as("cost_c"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val expected = base.filter { case (_, q0, c0) =>
      !base.exists { case (_, q1, c1) =>
        q1 >= q0 && c1 <= c0 && (q1 > q0 || c1 < c0)
      }
    }.map(t => (t._1, t._2, t._3)).toSet
    val got = q("q_skyline").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == expected)
    assert(got.nonEmpty, "frontier must not be vacuous")
  }

  test("moment-based correlations track the builtin corr() closely") {
    val got = q("q_agg_corr").collect()
      .map(r => r.getString(0) -> r.getLong(1) / 1e9).toMap
    assert(got.size == 3)
    assert(got.values.forall(c => c >= -1.0 && c <= 1.0))
    val li = graft.sources.Tables.lineitem(spark, sf)
    val ref = li.select(
        corr(col("l_quantity"), col("l_extendedprice")).as("qp"),
        corr(col("l_quantity"), col("l_discount")).as("qd"),
        corr(col("l_extendedprice"), col("l_discount")).as("pd"))
      .collect().head
    assert(math.abs(got("qty_price") - ref.getDouble(0)) < 1e-6)
    assert(math.abs(got("qty_discount") - ref.getDouble(1)) < 1e-6)
    assert(math.abs(got("price_discount") - ref.getDouble(2)) < 1e-6)
  }

  test("hourly interpolation matches an in-memory reimplementation") {
    val pts = graft.sources.Tables.events(spark, sf)
      .select(col("user_id"), unix_millis(col("ts")).as("m"),
        col("event_id"), floor(col("value") * lit(1000)).cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3)))
    val step = 3600000L
    val expected = pts.groupBy(_._1).toSeq.flatMap { case (uid, es) =>
      val dedup = es.groupBy(_._2).toSeq
        .map { case (m, g) => (m, g.minBy(_._3)._4) }.sortBy(_._1)
      dedup.sliding(2).filter(_.length == 2).flatMap { w =>
        val Seq((m0, v0), (m1, v1)) = w.toSeq
        val t0 = (m0 + step - 1) / step * step
        Iterator.iterate(t0)(_ + step).takeWhile(_ < m1)
          .map(t => (uid, t, (v0 * (m1 - t) + v1 * (t - m0)) / (m1 - m0)))
      }
    }.toSet
    val got = q("q_timeseries_interp").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == expected,
      s"missing=${(expected -- got).take(3)} extra=${(got -- expected).take(3)}")
    assert(got.nonEmpty)
  }

  test("event pattern: regex CEP agrees with a hand-rolled scan") {
    val ev = graft.sources.Tables.events(spark, sf)
      .select(col("user_id"), unix_micros(col("ts")), col("event_id"),
        col("event_type"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getString(3)))
    val rows = q("q_event_pattern").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.nonEmpty && rows.exists(_._3 > 0),
      "pattern must fire for someone")
    val byUser = ev.groupBy(_._1)
    rows.foreach { case (uid, n, nClean, firstLen) =>
      val es = byUser(uid).sortBy(e => (e._2, e._3))
      assert(n == es.length.toLong)
      val s = es.map(_._4 match {
        case "view" => 'v'; case "click" => 'c'; case "purchase" => 'p'
        case "error" => 'e'; case _ => 's'
      }).mkString
      val ms = "v[^e]*c[^e]*p".r.findAllIn(s).toSeq
      assert(nClean == ms.length.toLong, s"user $uid: $s")
      assert(firstLen == ms.headOption.map(_.length).getOrElse(0).toLong)
    }
  }

  test("markov transitions conserve events and rows normalize to 1e6") {
    val rows = q("q_event_markov").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
    val ev = graft.sources.Tables.events(spark, sf)
    val nEvents = ev.count()
    val nUsers = ev.select(col("user_id")).distinct().count()
    // each user's stream of length L yields L-1 transitions
    assert(rows.map(_._3).sum == nEvents - nUsers)
    rows.groupBy(_._1).foreach { case (from, ts) =>
      val s = ts.map(_._4).sum
      // integer ppm truncation loses < 1 ppm per destination row
      assert(s > 1000000L - ts.length && s <= 1000000L,
        s"$from row sums to $s over ${ts.length} destinations")
    }
  }

  test("event lift matches independent support counts") {
    val ut = graft.sources.Tables.events(spark, sf)
      .select(col("user_id"), col("event_type")).distinct()
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val byUser = ut.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val nUsers = byUser.size.toLong
    val supp = ut.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    val rows = q("q_event_lift").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (a, b) = (r.getString(0), r.getString(1))
      assert(a < b, "pairs are canonically ordered")
      val both = byUser.values.count(s => s.contains(a) && s.contains(b))
      assert(r.getLong(2) == both.toLong)
      assert(r.getLong(3) == supp(a) && r.getLong(4) == supp(b))
      assert(r.getLong(5) == 1000L * both * nUsers / (supp(a) * supp(b)))
    }
  }

  test("kappa equals an in-memory chance-corrected recompute, negative here") {
    val cells = graft.sources.Tables.documents(spark, sf)
      .select(col("text")).collect().map { r =>
        val w = r.getString(0).split(" ", -1)
        val a = w.length >= 30
        val b = w.distinct.length.toDouble / w.length.toDouble > 0.45
        (a, b)
      }
    val n = cells.length.toLong
    val n11 = cells.count(c => c._1 && c._2).toLong
    val n10 = cells.count(c => c._1 && !c._2).toLong
    val n01 = cells.count(c => !c._1 && c._2).toLong
    val n00 = cells.count(c => !c._1 && !c._2).toLong
    val num = 1000L * (n * (n11 + n00) -
      ((n11 + n10) * (n11 + n01) + (n01 + n00) * (n10 + n00)))
    val den = n * n -
      ((n11 + n10) * (n11 + n01) + (n01 + n00) * (n10 + n00))
    val r = q("q_audit_kappa").head
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
      r.getLong(4)) == ((n, n11, n10, n01, n00)))
    assert(r.getLong(5) == Math.floorDiv(num, den))
    assert(r.getLong(5) < 0,
      "fixture gates agree worse than chance — the audit's finding")
  }

  test("survival curve equals an in-memory KM replay with censoring") {
    val lastDay = graft.sources.Tables.events(spark, sf)
      .groupBy(col("user_id"))
      .agg((unix_micros(max(col("ts"))) / lit(86400000000L)).cast("long")
        .as("d"))
      .collect().map(_.getLong(1))
    val maxDay = lastDay.max
    val days = lastDay.distinct.sorted
    var logS = 0L
    val expected = days.map { t =>
      val nRisk = lastDay.count(_ >= t).toLong
      val leaving = lastDay.count(_ == t).toLong
      val churn = if (t < maxDay) leaving else 0L
      if (churn > 0)
        logS += math.floor(math.log((nRisk - churn).toDouble) * 1e6).toLong -
          math.floor(math.log(nRisk.toDouble) * 1e6).toLong
      (t, nRisk, churn, leaving - churn, logS)
    }.toSeq
    val got = q("q_event_survival").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq
    assert(got == expected, s"first diff: ${
      got.zip(expected).find(p => p._1 != p._2)}")
    // censoring must actually occur (the final day's leavers) and the
    // curve must be monotone non-increasing
    assert(got.last._4 > 0, "final-day users are censored, not churned")
    assert(got.map(_._5) == got.map(_._5).sorted.reverse,
      "log-survival is non-increasing")
  }

  test("chi-square grid equals an in-memory contingency recompute") {
    val d0 = graft.sources.Tables.documents(spark, sf)
      .select(col("lang"), col("source")).collect()
      .map(r => (r.getString(0), r.getString(1)))
    val n = d0.length.toLong
    val rTot = d0.groupBy(_._1).view.mapValues(_.length.toLong).toMap
    val cTot = d0.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    val obs = d0.groupBy(identity).view.mapValues(_.length.toLong).toMap
    val rows = q("q_audit_chisq").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(rows.length == rTot.size * cTot.size, "full grid incl. zero cells")
    rows.foreach { case (l, s, o, tq) =>
      assert(o == obs.getOrElse((l, s), 0L))
      val diff = (o * n - rTot(l) * cTot(s)).toDouble
      val expected =
        math.floor(diff * diff / (n * rTot(l) * cTot(s)).toDouble * 1000)
          .toLong
      assert(tq == expected, s"($l,$s): $tq != $expected")
    }
    assert(rows.map(_._4).sum >= 0)
  }

  test("KS statistic equals an in-memory two-sample scan, bounded by 1000") {
    val split = java.time.LocalDateTime.parse("2024-01-16T00:00:00")
      .toInstant(java.time.ZoneOffset.UTC).getEpochSecond * 1000000L
    val ev = graft.sources.Tables.events(spark, sf)
      .select(col("event_type"), col("value"), unix_micros(col("ts")))
      .collect().map(r => (r.getString(0), r.getDouble(1),
        r.getLong(2) < split))
    val rows = q("q_drift_ks").collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(rows.keySet == ev.map(_._1).toSet)
    ev.groupBy(_._1).foreach { case (t, es) =>
      val ref = es.filter(_._3).map(_._2).sorted
      val cur = es.filterNot(_._3).map(_._2).sorted
      val (nr, nc) = (ref.length.toLong, cur.length.toLong)
      val dMax = es.map(_._2).distinct.map { v =>
        math.abs(ref.count(_ <= v) * nc - cur.count(_ <= v) * nr)
      }.max
      val (gNr, gNc, gKs) = rows(t)
      assert(gNr == nr && gNc == nc)
      assert(gKs == 1000L * dMax / (nr * nc), s"$t ks mismatch")
      assert(gKs >= 0 && gKs <= 1000)
    }
    assert(rows.values.exists(_._3 > 0), "some drift must register")
  }

  test("attribution equals an in-memory last-touch walk; direct bucket real") {
    val ev = graft.sources.Tables.events(spark, sf)
      .select(col("event_id"), col("user_id"), unix_micros(col("ts")),
        col("event_type"), col("value"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getString(3), r.getDouble(4)))
    val lookbackUs = 7L * 86400000000L
    val expected = ev.groupBy(_._2).toSeq.flatMap { case (_, es) =>
      val sorted = es.sortBy(e => (e._3, e._1))
      var touch: Option[(Long, String)] = None
      val out = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
      sorted.foreach { e =>
        if (e._4 == "purchase") {
          val ch = touch match {
            case Some((tts, tt)) if tts >= e._3 - lookbackUs => tt
            case _ => "direct"
          }
          out += ((ch, math.floor(e._5 * 1e6).toLong))
        }
        if (e._4 == "view" || e._4 == "click") touch = Some((e._3, e._4))
      }
      out.toSeq
    }.groupBy(_._1).view.mapValues(vs =>
      (vs.size.toLong, vs.map(_._2).sum)).toMap
    val got = q("q_event_attribution").collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got == expected)
    assert(got.contains("direct"), "outside-lookback / no-touch bucket real")
    assert(got.keySet.exists(Set("view", "click")), "attributed bucket real")
  }

  test("seasonal profile equals an in-memory hour-cell recompute") {
    val ev = graft.sources.Tables.events(spark, sf)
      .select(col("event_type"), unix_micros(col("ts")), col("value"))
      .collect().map(r => (r.getString(0),
        (r.getLong(1) / 3600000000L) % 24, // epoch-hour mod 24 == UTC hour
        math.floor(r.getDouble(2) * 1e6).toLong))
    val cells = ev.groupBy(e => (e._1, e._2)).view.mapValues(es =>
      (es.size.toLong, es.map(_._3).sum)).toMap
    val tots = ev.groupBy(_._1).view.mapValues(es =>
      (es.size.toLong, es.map(_._3).sum)).toMap
    val got = q("q_timeseries_seasonal").collect()
    assert(got.length == cells.size)
    got.foreach { r =>
      val k = (r.getString(0), r.getInt(1).toLong)
      val (cnt, sum) = cells(k)
      val (tcnt, tsum) = tots(r.getString(0))
      assert(r.getLong(2) == cnt)
      assert(r.getLong(3) == sum / cnt)
      assert(r.getLong(4) == sum / cnt - tsum / tcnt, s"resid at $k")
    }
    val resids = got.map(_.getLong(4))
    assert(resids.exists(_ > 0) && resids.exists(_ < 0),
      "seasonality registers in both directions")
  }

  test("k-anonymity grid equals an in-memory QI grouping, both verdicts") {
    val docs = graft.sources.Tables.documents(spark, sf)
      .select(col("lang"), col("source"), col("n_chars"))
      .collect().map(r => (r.getString(0), r.getString(1),
        r.getLong(2) / 64))
    val expected = docs.groupBy(identity).view.mapValues(_.length.toLong)
      .toMap
    val got = q("q_audit_kanonymity").collect()
    assert(got.length == expected.size)
    got.foreach { r =>
      val cnt = expected((r.getString(0), r.getString(1), r.getLong(2)))
      assert(r.getLong(3) == cnt)
      assert(r.getBoolean(4) == (cnt < 5))
    }
    val flags = got.map(_.getBoolean(4)).toSet
    assert(flags == Set(true, false), "both risk verdicts must exercise")
  }

  test("temporal join picks the version valid at event time, both eras hit") {
    val dim = q("q_scd2").collect().map { r =>
      (r.getLong(0), r.getString(1), r.getDate(2).toString,
        Option(r.getDate(3)).map(_.toString))
    }
    val eff = java.time.LocalDate.parse("2024-01-16")
    val ev = graft.sources.Tables.events(spark, sf)
      .select(col("event_id"), col("user_id"), col("ts"))
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getTimestamp(2).toInstant.atZone(java.time.ZoneOffset.UTC)
          .toLocalDate))
    val expected = ev.flatMap { case (eid, uid, day) =>
      dim.filter { case (k, _, vf, vt) =>
        k == uid && !day.isBefore(java.time.LocalDate.parse(vf)) &&
          vt.forall(t => day.isBefore(java.time.LocalDate.parse(t)))
      }.map(v => (eid, uid, v._2))
    }.toSet
    val got = q("q_join_temporal").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    assert(got == expected,
      s"missing=${(expected -- got).take(3)} extra=${(got -- expected).take(3)}")
    // at most one version per event, and both eras must be exercised:
    // pre-effective events on a later-changed key see the OLD segment
    assert(got.size == got.map(r => (r._1, r._2)).size, "one version/event")
    val changed = dim.filter(_._4.isDefined).map(_._1).toSet
    val pre = got.filter(r => changed(r._2) && !r._3.endsWith("-R"))
    val post = got.filter(r => changed(r._2) && r._3.endsWith("-R"))
    assert(pre.nonEmpty && post.nonEmpty,
      "events must match both the closed and the reopened version")
  }

  test("SCD2 merge equals an in-memory replay; all four cases exercised") {
    val cust = graft.sources.Tables.customer(spark, sf)
      .select(col("c_custkey"), col("c_mktsegment")).collect()
      .map(r => r.getLong(0) -> r.getString(1))
    val base = cust.filter(_._1 % 11 != 0).toMap
    val upd = (cust.filter(kv => kv._1 % 5 == 0 && kv._1 % 11 != 0)
        .map { case (k, seg) =>
          k -> (if (k % 15 == 0) seg else seg + "-R") } ++
      cust.filter(_._1 % 11 == 0)).toMap
    val (f0, eff) = ("2024-01-01", "2024-01-16")
    // independent replay of the merge semantics, one key at a time
    val expected = (base.keySet ++ upd.keySet).toSeq.flatMap { k =>
      (base.get(k), upd.get(k)) match {
        case (Some(o), Some(n)) if o != n =>
          Seq((k, o, f0, eff, false), (k, n, eff, null, true))
        case (Some(o), _) => Seq((k, o, f0, null, true)) // no-op or absent
        case (None, Some(n)) => Seq((k, n, eff, null, true))
        case _ => Nil
      }
    }.toSet
    val got = q("q_scd2").collect().map { r =>
      (r.getLong(0), r.getString(1), r.getDate(2).toString,
        Option(r.getDate(3)).map(_.toString).orNull, r.getBoolean(4))
    }.toSet
    assert(got == expected,
      s"missing=${(expected -- got).take(3)} extra=${(got -- expected).take(3)}")
    // all four merge cases must actually occur on the fixture
    assert(got.exists(!_._5), "a closed prior version exists")
    assert(got.exists(r => r._5 && r._3 == eff && base.contains(r._1)),
      "a reopened (changed) version exists")
    assert(got.exists(r => r._5 && r._3 == eff && !base.contains(r._1)),
      "an inserted key exists")
    assert(got.exists(r => r._5 && r._3 == f0 && upd.contains(r._1)),
      "a no-op update passed through unversioned")
    // versioning invariants: exactly one current row per surviving key
    got.groupBy(_._1).foreach { case (k, vs) =>
      assert(vs.count(_._5) == 1, s"key $k: exactly one current row")
      assert(vs.size <= 2, s"key $k: at most two versions")
    }
  }
}
