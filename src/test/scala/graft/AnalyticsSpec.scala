package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators._
import graft.sources.Tables

class AnalyticsSpec extends AnyFunSuite {
  import SharedSpark.{spark, sf}

  test("registerAll exposes every table to spark.sql with graft functions available") {
    Tables.registerAll(spark, sf)
    val n = spark.sql(
      """SELECT COUNT(*) AS n FROM lineitem l JOIN orders o ON l_orderkey = o_orderkey
        |WHERE o_totalprice > 100000""".stripMargin).collect()(0).getLong(0)
    assert(n > 0)
    val cos = spark.sql(
      """SELECT graft_cosine(a.embedding, b.embedding) AS c
        |FROM embeddings a JOIN embeddings b ON a.vec_id = 0 AND b.vec_id = 1
        |""".stripMargin).collect()(0).getDouble(0)
    assert(cos >= -1.0 && cos <= 1.0)
    assert(spark.sql("SELECT COUNT(*) FROM events").collect()(0).getLong(0) > 0)
  }

  test("Tables.events normalizes ts to TimestampType across parquet vintages") {
    // The testdata regenerates between rounds with varying parquet
    // timestamp physical types (NANOS, MICROS-UTC, MICROS-NTZ). Every
    // downstream unix_micros(ts) call site requires TimestampType, so
    // pin the normalized schema here: a new vintage that slips through
    // the dispatch fails THIS spec instead of 8 gate queries.
    val e = Tables.events(spark, sf)
    assert(e.schema("ts").dataType == org.apache.spark.sql.types.TimestampType,
      s"events.ts must normalize to TimestampType, got ${e.schema("ts").dataType}")
    // unix_micros must analyze (it's the shared downstream requirement)
    assert(e.select(unix_micros(col("ts"))).limit(1).collect().nonEmpty)
  }

  test("q1 aggregates match a direct recomputation") {
    val rows = Analytics.q1Agg(spark, sf).collect()
    assert(rows.nonEmpty)
    val total = rows.map(_.getAs[Long]("count_order")).sum
    val expected = Tables.lineitem(spark, sf)
      .filter(col("l_shipdate") <= lit("1998-09-02")).count()
    assert(total == expected)
    rows.foreach { r =>
      val n = r.getAs[Long]("count_order")
      assert(math.abs(r.getAs[Double]("avg_qty") * n - r.getAs[Double]("sum_qty")) < 1e-6)
    }
  }

  test("filter + projection are pushed to the parquet scan") {
    val plan = Analytics.qFilterPushdown(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("p_size"),
      s"expected pushed filters in:\n$plan")
    assert(!plan.contains("p_retailprice"), "projection should prune unused columns")
  }

  test("dimension joins broadcast (q5 plan has no shuffle on dims)") {
    val plan = Analytics.q5MultiJoin(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"expected broadcast joins in:\n$plan")
  }

  test("no explicit broadcast hints on sf-growing tables; AQE still broadcasts at test SF") {
    // sf-growing sides (customer, part, per-term df) must carry NO
    // ResolvedHint — at 100× a forced broadcast OOMs; the threshold/AQE
    // decides instead (VERDICT r1 item 3)
    val unhinted = Seq(
      "q3_join" -> Analytics.q3Join(spark, sf),
      "q10_returns" -> Analytics2.q10Returns(spark, sf),
      "q14_promo_share" -> Analytics2.q14PromoShare(spark, sf),
      "q16_supplier_counts" -> Analytics2.q16SupplierCounts(spark, sf),
      "q19_disjunctive" -> Analytics2.q19Disjunctive(spark, sf),
      "q13_custdist" -> Analytics3.q13CustDist(spark, sf),
      "q17_small_qty" -> Analytics3.q17SmallQty(spark, sf),
      "text_top_terms" -> TextAnalysis.topTerms(spark, sf),
      "dedup_exact" -> Dedup.exact(spark, sf))
    unhinted.foreach { case (name, df) =>
      assert(!df.queryExecution.analyzed.toString.contains("ResolvedHint"),
        s"$name must not hint a broadcast on an sf-growing table")
    }
    // the wide Analytics3 joins may hint ONLY the bounded nation copies
    Seq("q7_volume" -> (Analytics3.q7Volume(spark, sf), 2),
        "q8_market_share" -> (Analytics3.q8MarketShare(spark, sf), 1),
        "q9_profit" -> (Analytics3.q9Profit(spark, sf), 1),
        "q20_part_suppliers" -> (Analytics3.q20PartSuppliers(spark, sf), 1),
        // q2 hints only nation/region: the window-form decorrelation
        // builds the regional subtree ONCE (no duplicate subplan), so
        // exactly 2 bounded hint nodes; supplier and the per-part MIN
        // grow with sf and stay unhinted. q11 hints only the 1-row
        // global total.
        "q2_min_cost" -> (Analytics3.q2MinCost(spark, sf), 2),
        "q11_important_stock" -> (Analytics3.q11ImportantStock(spark, sf), 1))
      .foreach { case (name, (df, nBounded)) =>
        val hints = "ResolvedHint".r
          .findAllIn(df.queryExecution.analyzed.toString).size
        assert(hints == nBounded,
          s"$name may hint only its $nBounded bounded nation dim(s), saw $hints")
      }
    // the small sides still broadcast at this SF — via the threshold,
    // not a hint
    Seq("q3_join" -> Analytics.q3Join(spark, sf),
        "q10_returns" -> Analytics2.q10Returns(spark, sf),
        "q16_supplier_counts" -> Analytics2.q16SupplierCounts(spark, sf))
      .foreach { case (name, df) =>
        assert(df.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"),
          s"$name should still broadcast the small side at test SF")
      }
    // q5's hints are ONLY the bounded dims (region/nation); supplier
    // grows with sf and must be left to AQE (VERDICT r3 #1 — this was
    // the last hard hint on an sf-growing table anywhere in the repo)
    val q5 = Analytics.q5MultiJoin(spark, sf)
    val q5Hints = "ResolvedHint".r
      .findAllIn(q5.queryExecution.analyzed.toString).size
    assert(q5Hints == 2, s"q5 should hint exactly nation/region, saw $q5Hints")
    // and AQE still broadcasts the small sides at test SF
    q5.count()
    assert(q5.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"),
      "q5 should still broadcast dims via AQE/threshold at test SF")
  }

  test("enrich paths never hint a broadcast on the sf-growing customer dim (VERDICT r2 #1)") {
    import graft.plans.Pipeline
    import graft.plans.Pipeline._
    // Etl.enrich: the only permitted hint is the BOUNDED nation side
    val etlEnrich = Etl.enrich(spark, sf)
    val etlHints = "ResolvedHint".r
      .findAllIn(etlEnrich.queryExecution.analyzed.toString).size
    assert(etlHints == 1,
      s"Etl.enrich may hint only the bounded nation dim, saw $etlHints hints")
    // Pipeline.applyStages with a growing dim and the default
    // broadcastDim=false: zero hints anywhere in the plan
    val spec = TransferSpec(
      source = SourceSpec(s"$sf/orders.parquet", Parquet),
      enrich = Some(EnrichSpec(Tables.customer(spark, sf),
        "o_custkey" -> "c_custkey", Seq("c_mktsegment" -> "segment"))))
    val planned = Pipeline.plan(spark, spec)
    assert(!planned.queryExecution.analyzed.toString.contains("ResolvedHint"),
      "Pipeline enrich must not hint a broadcast on a growing dim by default")
    // AQE's size-based choice still broadcasts both at test SF — the
    // scale-safe plan loses nothing here
    Seq("Etl.enrich" -> etlEnrich, "Pipeline.enrich" -> planned).foreach {
      case (name, df) =>
        df.count() // materialize so AQE finalizes the plan
        assert(df.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"),
          s"$name should still broadcast via AQE/threshold at test SF")
    }
    // opt-in for genuinely bounded dims still works
    val bounded = TransferSpec(
      source = SourceSpec(s"$sf/customer.parquet", Parquet),
      enrich = Some(EnrichSpec(Tables.nation(spark, sf),
        "c_nationkey" -> "n_nationkey", Seq("n_name" -> "nation_name"),
        broadcastDim = true)))
    assert(Pipeline.plan(spark, bounded)
      .queryExecution.analyzed.toString.contains("ResolvedHint"),
      "broadcastDim=true should hint the bounded dim")
  }

  test("top-k is TakeOrdered, not a full sort") {
    val plan = Analytics.qTopK(spark, sf).queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), s"expected TakeOrdered in:\n$plan")
  }

  test("semi/anti join row counts bracket the base table") {
    val nOrders = Tables.orders(spark, sf).count()
    assert(Analytics.qSemiJoin(spark, sf).count() <= nOrders)
    val nCust = Tables.customer(spark, sf).count()
    val anti = Analytics.qAntiJoin(spark, sf).count()
    assert(anti > 0 && anti <= nCust)
  }

  test("ORC reads push filters and prune columns like parquet") {
    val tmpDir = s"${System.getProperty("java.io.tmpdir")}/graft_orc_spec_${System.nanoTime}"
    Tables.orders(spark, sf)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      .write.mode("overwrite").orc(tmpDir)
    val df = spark.read.orc(tmpDir)
      .filter(col("o_orderkey") <= 100)
      .select(col("o_orderkey"), col("o_totalprice"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("o_orderkey"),
      s"expected pushed filters in ORC scan:\n$plan")
    assert(!plan.contains("o_orderstatus"),
      "ORC projection should prune unused columns")
    assert(df.count() ==
      Tables.orders(spark, sf).filter(col("o_orderkey") <= 100).count())
  }

  test("partition-pruned read scans only the matching dt directory") {
    val df = operators.Etl.partitionPruning(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("dt"),
      s"expected partition filters in:\n$plan")
    assert(df.count() > 0)
  }

  test("as-of join: prior click is a click, precedes the error, same user") {
    val e = Tables.events(spark, sf).select(
      col("event_id"), col("user_id"), col("event_type"), unix_micros(col("ts")).as("us"))
    val asof = Windows.asofJoin(spark, sf)
    val joined = asof.filter(col("prior_click_id").isNotNull)
      .join(e.withColumnRenamed("event_id", "prior_click_id")
        .withColumnRenamed("user_id", "u2").withColumnRenamed("us", "us2"),
        Seq("prior_click_id"))
    assert(joined.filter(col("event_type") =!= "click").count() == 0)
    assert(joined.filter(col("u2") =!= col("user_id")).count() == 0)
    assert(joined.filter(col("us2") > col("prior_click_us")).count() == 0)
    assert(asof.filter(col("gap_us") < 0).count() == 0)
  }

  test("funnel: steps shrink monotonically and step 1 counts exactly the viewing users") {
    val rows = Analytics3.qFunnel(spark, sf).collect()
      .map(r => r.getAs[Int]("step") -> r.getAs[Long]("n_users")).toMap
    assert(rows.keySet == Set(1, 2, 3))
    assert(rows(1) >= rows(2) && rows(2) >= rows(3),
      s"funnel must be monotone: $rows")
    assert(rows(3) > 0, "gate corpus should convert some users end-to-end")
    val viewers = Tables.events(spark, sf)
      .filter(col("event_type") === "view").select("user_id").distinct().count()
    assert(rows(1) == viewers)
  }

  test("retention: every user anchors their own cohort at offset 0; offsets never negative") {
    val r = Analytics3.qRetention(spark, sf)
    assert(r.filter(col("week_offset") < 0).count() == 0)
    val totalUsers = Tables.events(spark, sf).select("user_id").distinct().count()
    val offset0 = r.filter(col("week_offset") === 0)
      .agg(sum(col("n_users"))).collect()(0).getLong(0)
    // a user's first event is in their cohort week, so offset 0 covers everyone
    assert(offset0 == totalUsers)
  }

  test("journeys: every user contributes exactly one path; steps bounded by 3") {
    val j = Analytics3.qJourneys(spark, sf)
    val users = Tables.events(spark, sf).select("user_id").distinct().count()
    assert(j.agg(sum(col("n_users"))).collect()(0).getLong(0) == users,
      "paths must partition the user population exactly")
    j.collect().foreach { r =>
      val steps = r.getString(0).split(">")
      assert(steps.length >= 1 && steps.length <= 3)
      assert(steps.forall(Set("view", "click", "purchase", "signup", "error")))
    }
    // spot-check one user's path against their raw ordered events
    val uid = Tables.events(spark, sf).select("user_id").head().getLong(0)
    val expected = Tables.events(spark, sf).filter(col("user_id") === uid)
      .orderBy(col("ts"), col("event_id")).select("event_type")
      .collect().map(_.getString(0)).take(3).mkString(">")
    // the aggregate hides which journey is whose, so recompute the
    // per-user slice with the operator's own ordering and compare
    val perUser = Tables.events(spark, sf)
      .select(col("user_id"), struct(col("ts"), col("event_id"), col("event_type")).as("ev"))
      .groupBy(col("user_id"))
      .agg(slice(sort_array(collect_list(col("ev"))), 1, 3).as("f3"))
      .filter(col("user_id") === uid)
      .select(array_join(expr("transform(f3, x -> x.event_type)"), ">"))
      .head().getString(0)
    assert(perUser == expected, s"ordered path $perUser != raw order $expected")
  }

  test("attribution: purchases partition exactly across channels; direct = no prior touch") {
    val a = Analytics3.qAttribution(spark, sf)
    assert(a.filter(col("channel") === "purchase").count() == 0,
      "a purchase can never be its own credited touch")
    val e = Tables.events(spark, sf)
    val purchases = e.filter(col("event_type") === "purchase")
    assert(a.agg(sum(col("n_purchases"))).collect()(0).getLong(0) == purchases.count(),
      "every purchase is credited exactly once")
    // independent formulation of 'direct': purchases with ZERO strictly
    // earlier (ts, event_id) non-purchase events by the same user
    val touches = e.filter(col("event_type") =!= "purchase")
      .select(col("user_id"), col("ts").as("t_ts"), col("event_id").as("t_id"))
    val withPrior = purchases.join(touches,
        purchases("user_id") === touches("user_id") &&
          (touches("t_ts") < purchases("ts") ||
            (touches("t_ts") === purchases("ts") && touches("t_id") < purchases("event_id"))),
        "left_semi")
    val expectDirect = purchases.count() - withPrior.count()
    val gotDirect = a.filter(col("channel") === "direct")
      .agg(coalesce(sum(col("n_purchases")), lit(0L))).collect()(0).getLong(0)
    assert(gotDirect == expectDirect, s"direct: got $gotDirect expected $expectDirect")
  }

  test("gap fill: contiguous per-user hourly grid, LOCF equals the last active hour's sum") {
    val g = TimeSeries.gapFill(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val byUser = g.groupBy(_._1)
    byUser.foreach { case (u, rows) =>
      val hours = rows.map(_._2).sorted
      assert(hours.distinct.length == hours.length, s"user $u: duplicate hours")
      assert(hours.last - hours.head + 1 == hours.length,
        s"user $u: grid has holes (${hours.length} rows over ${hours.last - hours.head + 1} hours)")
      // first grid hour comes from a real event; LOCF means filled is
      // never null and only changes on active hours
      rows.sortBy(_._2).foldLeft(Option.empty[Double]) {
        case (prev, (_, _, n, filled)) =>
          if (n == 0) assert(prev.contains(filled),
            s"user $u: idle hour must carry the previous value")
          Some(filled)
      }
    }
    // the grid adds rows (idle hours) but never loses events
    val totalEvents = g.map(_._3).sum
    assert(totalEvents == Tables.events(spark, sf).count(), "event conservation")
    assert(g.length > totalEvents / 10, "grid should materialize idle hours too")
  }

  test("trend: slope equals an exact integer least-squares reference, bit for bit") {
    // the operator's sums are all BIGINT, so a driver-side replica of
    // the same integer arithmetic must produce the IDENTICAL double
    val hourly = Tables.events(spark, sf)
      .select(col("event_type"),
        expr("unix_micros(ts) div 1000000 div 3600").as("hour"),
        (col("value").cast("decimal(18,2)") * 100).cast("long").as("cents"))
      .groupBy("event_type", "hour").agg(sum("cents").as("y"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val h0 = hourly.map(_._2).min
    val got = TimeSeries.trend(spark, sf).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    hourly.groupBy(_._1).foreach { case (et, rows) =>
      val xs = rows.map(t => t._2 - h0); val ys = rows.map(_._3)
      val n = rows.length.toLong
      val sx = xs.sum; val sy = ys.sum
      val sxy = xs.zip(ys).map { case (x, y) => x * y }.sum
      val sxx = xs.map(x => x * x).sum
      val slope = (n * sxy - sx * sy).toDouble / (n * sxx - sx * sx).toDouble
      val (gn, gsum, gslope) = got(et)
      assert(gn == n && gsum == sy && gslope == slope,
        s"$et: got ($gn,$gsum,$gslope) expected ($n,$sy,$slope)")
    }
    assert(got.nonEmpty)
  }

  test("anomaly: med/MAD and outlier counts match a driver-side exact reference") {
    val got = TimeSeries.anomaly(spark, sf).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2), r.getDouble(3), r.getLong(4))))
      .toMap
    def medianOf(xs: Array[Double]): Double = {
      val s = xs.sorted; val n = s.length
      val pos = 0.5 * (n - 1); val lo = pos.toInt
      if (lo == n - 1) s(lo) else s(lo) + (pos - lo) * (s(lo + 1) - s(lo))
    }
    val vals = Tables.events(spark, sf).select("event_type", "value").collect()
      .map(r => r.getString(0) -> r.getDouble(1)).groupBy(_._1)
    assert(got.keySet == vals.keySet)
    vals.foreach { case (et, rows) =>
      val xs = rows.map(_._2)
      val med = medianOf(xs)
      val mad = medianOf(xs.map(x => math.abs(x - med)))
      val (n, gmed, gmad, gout) = got(et)
      // med/MAD: tolerance compare (Spark's percentile may interpolate
      // with a different floating op ORDER than this reference — the
      // engine-vs-engine bit-parity is the DuckDB oracle's job)
      assert(n == xs.length, s"$et: n")
      assert(math.abs(gmed - med) <= 1e-9 * math.max(1.0, math.abs(med)), s"$et: med")
      assert(math.abs(gmad - mad) <= 1e-9 * math.max(1.0, math.abs(mad)), s"$et: mad")
      // outlier count: exact, recomputed against the OPERATOR's own
      // med/MAD so the test pins the counting logic, not percentile ulp
      val outliers = xs.count(x => math.abs(x - gmed) > TimeSeries.MadK * gmad)
      assert(gout == outliers, s"$et: outliers got $gout expected $outliers")
      assert(gout > 0 || mad == 0.0 || xs.length < 30,
        s"$et: a heavy-tailed synthetic stream should show some outliers")
    }
  }

  test("sketch merge: sharded HLL union and single pass both inside the 5% envelope") {
    import org.apache.spark.sql.functions._
    val r = graft.operators.Analytics3.sketchMerge(spark, sf).head()
    assert(r.getBoolean(0), "union-of-shards estimate outside the envelope")
    assert(r.getBoolean(1), "single-pass estimate outside the envelope")
    assert(r.getLong(2) > 0)
    // the combine stage is bounded: exactly 8 shard sketches feed the union
    val shards = Tables.orders(spark, sf)
      .select(pmod(col("o_orderkey"), lit(8)).as("shard"))
      .distinct().count()
    assert(shards <= 8)
  }

  test("recursive CTE restores the session recursion guard (VERDICT r8 #1)") {
    val key = "spark.sql.cteRecursionRowLimit"
    val before = spark.conf.get(key)
    val out = graft.operators.Analytics3.qRecursiveCte(spark, sf)
    assert(out.count() > 0, "recursive spine must produce open-month rows")
    assert(spark.conf.get(key) == before,
      s"runaway-recursion backstop must be re-armed after the gate " +
        s"(was $before, now ${spark.conf.get(key)})")
  }
}
