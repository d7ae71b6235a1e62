package graft.operators

import graft.Parity
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The full 15-function Gold feature battery — one `DataFrame => DataFrame`
  * per reference feature (`my_stock_functions.py:13-778`), composed by the
  * right-wins fold of `my_alpaca.py:296-335` into one daily feature table.
  *
  * Fixture adaptation (the reference runs on 30-min equity bars; the
  * harness `events` table is tick-shaped): symbol → user_id, price →
  * value, candle → hourly bar derived from events, premarket → hour < 9,
  * regular hours → hour in [9, 16), US-holiday calendar → the federal
  * holidays inside the fixture's range (Jan 1 / Jan 15 / Feb 19 2024).
  * Every window/shift/min-periods rule follows the reference exactly.
  *
  * Scale/parity design:
  *  - ONE `repartition(user_id)` up front; every groupBy keys on
  *    (user_id, day|slot) and every window partitions by user_id, so the
  *    whole battery — candles, daily rollups, 15 features, the fold's
  *    joins — reuses a single exchange (hash(user_id) satisfies all their
  *    clustering requirements; joins co-partition, only sorts are added).
  *  - Cross-engine float parity per the [[graft.Parity]] doctrine: every
  *    order-sensitive float accumulation (rolling std/mean/sum of derived
  *    ratios, wick-ratio means, VWAP terms) is quantized to an integer
  *    grid before window-summing; medians come from sorted exact lists;
  *    ratios/log/sqrt/trig derive through identical IEEE trees.
  */
object GoldFeatures {

  /** Holidays covering the fixture range (USFederalHolidayCalendar over
    * [data min, data max] — reference my_stock_functions.py:513).
    * Sourced from the committed calendar fixture via
    * [[graft.sources.CalendarSource]] so this fold, the f16/mlprep
    * broadcast dims, and every oracle share ONE row set; kept as a Seq
    * because the fused Gold plan folds it into a literal when-chain (zero
    * joins — a handful of literals beats a broadcast for a dim this
    * small). */
  val Holidays: Seq[String] =
    graft.sources.CalendarSource.holidays("us_federal")

  private val wDay = Window.partitionBy("user_id").orderBy("day")

  /** Daily substrate shared by most features: per (user_id, day) —
    * first/last/high/low of value, exact volume, day-reset log return,
    * premarket and regular-hours aggregates, hourly-candle wick means and
    * VWAP terms. Computed once; each feature fn selects from it. */
  def dailySubstrate(events: DataFrame): DataFrame = {
    val ev = events.repartition(col("user_id"))
      .select(col("user_id"), col("ts"), col("value"),
        to_date(col("ts")).as("day"), hour(col("ts")).as("hh"))

    // hourly candles (the per-candle level for wick ratios / pm vwap);
    // volume kept as the exact long c_volq, with the double c_vol derived
    // once for the expressions that need it (same IEEE tree both engines).
    // Volume sums ride Parity.lq's exact integer hundredths. Headroom:
    // q ≤ 4e4/row; the squared candle-volume sums (pm_vol_sq_sum) need
    // c_volq < 3e9, i.e. < 3e7 volume units per (user, hour) candle —
    // far above any realistic per-candle figure, and the bound is noted
    // here because it is the tightest in the battery.
    val candles = ev
      .groupBy(col("user_id"), col("day"),
               date_trunc("hour", col("ts")).as("slot"))
      .agg(min_by(col("value"), col("ts")).as("c_open"),
           max_by(col("value"), col("ts")).as("c_close"),
           max("value").as("c_high"), min("value").as("c_low"),
           sum(Parity.lq(col("value"))).as("c_volq"), count(lit(1)).as("c_n"))
      .withColumn("c_vol", col("c_volq").cast("double") / 100.0)
      .withColumn("pm", hour(col("slot")) < 9)
    // per-candle wick ratios (0 when the candle has no range), quantized
    // to a 1e9 grid so the daily MEAN is an exact integer sum.
    val range = col("c_high") - col("c_low")
    val upper = when(range === 0.0, 0.0)
      .otherwise((col("c_high") - greatest(col("c_open"), col("c_close"))) / range)
    val lower = when(range === 0.0, 0.0)
      .otherwise((least(col("c_open"), col("c_close")) - col("c_low")) / range)
    // pm vwap term per candle: mean_i * vol_i = (vol_i/n_i) * vol_i,
    // quantized to 1e6 before the cross-candle sum.
    val vwapTerm = floor(col("c_vol") * col("c_vol") / col("c_n") * 1e6 + 0.5)
      .cast("long")
    val candleDaily = candles
      .withColumn("uq", Parity.q(upper, 1e9))
      .withColumn("lq", Parity.q(lower, 1e9))
      .withColumn("vt", when(col("pm"), vwapTerm))
      .groupBy("user_id", "day")
      .agg(sum("uq").as("uq_sum"), sum("lq").as("lq_sum"),
           count(lit(1)).as("n_candles"),
           sum(when(col("pm"), col("vt"))).as("pm_vt_sum"),
           (sum(when(col("pm"), col("c_volq"))).cast("double") / 100.0)
             .as("pm_vol_sum"),
           // c_volq² = 10^4 · c_vol², exact for 2-decimal volumes
           (sum(when(col("pm"), col("c_volq") * col("c_volq")))
             .cast("double") / 10000.0).as("pm_vol_sq_sum"))

    // day-reset log return: sum of intraday log(c_i/c_{i-1}) telescopes to
    // log(last/first) within the day — computed directly (same IEEE tree).
    val daily = ev
      .groupBy("user_id", "day")
      .agg(min_by(col("value"), col("ts")).as("d_first"),
           max_by(col("value"), col("ts")).as("d_last"),
           max("value").as("d_high"), min("value").as("d_low"),
           (sum(Parity.lq(col("value"))).cast("double") / 100.0).as("d_vol"),
           count(lit(1)).as("d_n"),
           // the predicate goes on the ORDERING side: min_by/max_by skip
           // rows whose ordering is null, which is exactly "first/last
           // within the premarket subset" (a predicate on the value side
           // would return null whenever the global extreme row is outside
           // the subset).
           min_by(col("value"), when(col("hh") < 9, col("ts"))).as("pm_open"),
           max_by(col("value"), when(col("hh") < 9, col("ts"))).as("pm_last"),
           (sum(when(col("hh") < 9, Parity.lq(col("value")))).cast("double")
             / 100.0).as("pm_vol"),
           sum(when(col("hh") < 9, lit(1L))).as("pm_n"),
           max_by(col("value"),
             when(col("hh") >= 9 && col("hh") < 16, col("ts")))
             .as("reg_close"))

    daily.join(candleDaily, Seq("user_id", "day"))
  }

  // ---- the 15 feature functions (substrate → (user_id, day, feature)) ----

  /** 1. prev_day_return (my_stock_functions.py:13): pct_change of daily
    * close, shifted one day. */
  def prevDayReturn(sub: DataFrame): DataFrame = {
    // nullif guards: the fixture contains value = 0.0 rows, and ANSI mode
    // (Spark 4 default) raises on double division by zero.
    val ret = lag("d_last", 1).over(wDay) /
      nullif(lag("d_last", 2).over(wDay), lit(0.0)) - 1.0
    sub.select(col("user_id"), col("day"), ret.as("prev_day_return"))
  }

  /** 2. std_return_last5d (:51): rolling(5) sample std of daily log
    * returns (day-reset, telescoped to log(last/first)). */
  def stdReturnLast5d(sub: DataFrame): DataFrame = {
    // 1e6 grid: values range to ~400, so a return can reach ~4e2; at a
    // 1e9 grid its square would overflow Long — 1e6 keeps rq² ≤ ~1.6e17.
    val lr = log(col("d_last") / col("d_first"))
    val rq = when(col("d_first") > 0.0 && col("d_last") > 0.0,
      floor(lr * 1e6 + 0.5).cast("long"))
    val f5 = wDay.rowsBetween(-4, 0)
    val s1 = sum(col("__rq")).over(f5).cast("double") / 1e6
    val s2 = sum(col("__rq") * col("__rq")).over(f5).cast("double") / 1e12
    val n = count(col("__rq")).over(f5)
    sub.withColumn("__rq", rq)
      .select(col("user_id"), col("day"),
        when(n >= 5, sqrt((s2 - s1 * s1 / 5.0) / 4.0))
          .as("std_return_last5d"))
  }

  /** 3. range_rel_last1d (:110): (high-low)/close of day n-1. */
  def rangeRelLast1d(sub: DataFrame): DataFrame =
    sub.select(col("user_id"), col("day"),
      lag((col("d_high") - col("d_low")) / nullif(col("d_last"), lit(0.0)), 1)
        .over(wDay).as("range_rel_last1d"))

  /** 4. rvol_20d (:155): day dollar volume over its 20-day prior mean. */
  def rvol20d(sub: DataFrame): DataFrame = {
    val dq = floor(col("d_vol") * 100.0 + 0.5).cast("long")
    val f20 = wDay.rowsBetween(-20, -1)
    val ma = sum(col("__dq")).over(f20).cast("double") / 20.0 / 100.0
    val n = count(col("__dq")).over(f20)
    sub.withColumn("__dq", dq)
      .select(col("user_id"), col("day"),
        when(n >= 20, col("d_vol") / nullif(ma, lit(0.0))).as("rvol_20d"))
  }

  /** 5. gap_pct (:200): first premarket price vs previous day's last
    * price; 0 when no premarket or no previous close. */
  def gapPct(sub: DataFrame): DataFrame = {
    val prevClose = lag("d_last", 1).over(wDay)
    val gap = when(prevClose.isNotNull && prevClose =!= 0.0 &&
                   col("pm_open").isNotNull && col("pm_open") =!= 0.0,
        (col("pm_open") - prevClose) / prevClose)
      .otherwise(0.0)
    sub.select(col("user_id"), col("day"), gap.as("gap_pct"))
  }

  /** 6. dist_max_20d (:277): (close_{n-1} - max(close_{n-20..n-1})) / max. */
  def distMax20d(sub: DataFrame): DataFrame = {
    val f20 = wDay.rowsBetween(-20, -1)
    val m = max("d_last").over(f20)
    val n = count(col("d_last")).over(f20)
    sub.select(col("user_id"), col("day"),
      when(n >= 20, (lag("d_last", 1).over(wDay) - m) / nullif(m, lit(0.0)))
        .as("dist_max_20d"))
  }

  /** 7. upper_wick_ratio_last1d (:321): day-(n-1) mean of per-candle
    * (high - max(open,close)) / (high - low). */
  def upperWickLast1d(sub: DataFrame): DataFrame =
    sub.select(col("user_id"), col("day"),
      lag(col("uq_sum").cast("double") / col("n_candles") / 1e9, 1)
        .over(wDay).as("upper_wick_ratio_last1d"))

  /** 8. lower_wick_ratio_last1d (:371). */
  def lowerWickLast1d(sub: DataFrame): DataFrame =
    sub.select(col("user_id"), col("day"),
      lag(col("lq_sum").cast("double") / col("n_candles") / 1e9, 1)
        .over(wDay).as("lower_wick_ratio_last1d"))

  /** 9. weekday one-hot (:421), Monday=0 … Friday=4. */
  def weekdayOneHot(sub: DataFrame): DataFrame = {
    val wd = ((dayofweek(col("day")) + 5) % 7) // Mon=0..Sun=6
    val cols = (0 until 5).map(i =>
      (wd === i).cast("int").as(s"weekday_$i"))
    sub.select(col("user_id") +: col("day") +: cols: _*)
  }

  /** 10. weekday cyclic (:451): sin/cos over a 5-day week, weekend null. */
  def weekdayCyclic(sub: DataFrame): DataFrame = {
    val wd = ((dayofweek(col("day")) + 5) % 7).cast("double")
    val inWeek = ((dayofweek(col("day")) + 5) % 7) < 5
    sub.select(col("user_id"), col("day"),
      when(inWeek, sin(lit(2.0) * lit(math.Pi) * wd / 5.0)).as("weekday_sin"),
      when(inWeek, cos(lit(2.0) * lit(math.Pi) * wd / 5.0)).as("weekday_cos"))
  }

  /** 11. days_since_holiday_general (:490): days since the most recent
    * holiday ≤ day (literal calendar — the scale-correct broadcast dim). */
  def daysSinceHoliday(sub: DataFrame): DataFrame = {
    // ascending fold: the latest holiday wraps outermost, so a day after
    // several holidays measures from the most recent one.
    val expr = Holidays.sorted.foldLeft(lit(null).cast("int")) {
      (acc, h) => when(col("day") >= lit(h).cast("date"),
        datediff(col("day"), lit(h).cast("date"))).otherwise(acc)
    }
    sub.select(col("user_id"), col("day"), expr.as("days_since_holiday"))
  }

  /** 12. hhi_premarket_volume (:534): Herfindahl index of per-candle
    * premarket volume shares (exact decimal sums). */
  def hhiPremarket(sub: DataFrame): DataFrame =
    sub.select(col("user_id"), col("day"),
      when(col("pm_vol_sum") > 0.0,
        col("pm_vol_sq_sum") / (col("pm_vol_sum") * col("pm_vol_sum")))
        .as("hhi_premarket_volume"))

  /** 13. premarket z-score (:586): (R_pm - mu20) / sigma20 against
    * rolling(20) daily close-to-close returns (current day included). */
  def premarketZscore(sub: DataFrame): DataFrame = {
    // 1e4 grid: a daily return is bounded by max/min price ≈ 4.9e4, so
    // rq ≤ 4.9e8 and Σ rq² over 20 rows ≤ ~4.8e18 — inside Long. (The
    // z-score loses nothing observable: sigma is dominated by the same
    // outliers that force the bound.)
    val dr = col("d_last") / nullif(lag("d_last", 1).over(wDay), lit(0.0)) - 1.0
    val rq = floor(dr * 1e4 + 0.5).cast("long")
    val f20 = wDay.rowsBetween(-19, 0)
    val s1 = sum(col("__rq")).over(f20).cast("double") / 1e4
    val s2 = sum(col("__rq") * col("__rq")).over(f20).cast("double") / 1e8
    val n = count(col("__rq")).over(f20)
    val mu = s1 / 20.0
    val sd = sqrt((s2 - s1 * s1 / 20.0) / 19.0)
    val rpm = (col("pm_last") - col("pm_open")) / nullif(col("pm_open"), lit(0.0))
    sub.withColumn("__rq", rq)
      .select(col("user_id"), col("day"),
        when(n >= 20, (rpm - mu) / nullif(sd, lit(0.0))).as("z_pm"))
  }

  /** 14. premarket avg-trade-size ratio (:654):
    * log((ats + eps) / (rolling20 median(ats) + eps)), eps = 0.01. */
  def premarketTradeSizeRatio(sub: DataFrame): DataFrame = {
    val eps = 0.01
    val ats = col("pm_vol") / col("pm_n")
    val f20 = wDay.rowsBetween(-19, 0)
    // rolling(20).median with min_periods=20: 20 values → mean of the
    // 10th/11th order statistics (identical tree both engines).
    // collect_list skips null ats (no-premarket days), matching the
    // reference's rolling over the premarket-days-only series.
    val med = (element_at(col("__lst"), 10) + element_at(col("__lst"), 11)) / 2.0
    // Compared (and emitted) as a 1e-6-quantized LONG: `ln` is the one
    // per-row transcendental in the battery, and libm implementations are
    // only 1-ulp-accurate — Spark's Math.log and DuckDB's ln disagree on
    // real inputs (first seen at sf0.1, r_pm_hist maxdev 1.1e-16). The
    // oracle's own lrq applies the same 1e6 floor-quantization to its ln
    // for the same reason.
    sub.withColumn("__ats", ats)
      .withColumn("__lst", sort_array(collect_list(col("__ats")).over(f20)))
      .select(col("user_id"), col("day"),
        when(size(col("__lst")) >= 20,
          floor(log((col("__ats") + eps) / (med + eps)) * 1e6 + 0.5)
            .cast("long"))
          .as("r_pm_hist_q"))
  }

  /** 15. premarket VWAP return (:717): pm VWAP over previous REGULAR-hours
    * close, minus one. */
  def premarketVwapReturn(sub: DataFrame): DataFrame = {
    val vwapPm = when(col("pm_vol_sum") > 0.0,
      col("pm_vt_sum").cast("double") / 1e6 / col("pm_vol_sum"))
    val prevRegClose = nullif(lag("reg_close", 1).over(wDay), lit(0.0))
    sub.select(col("user_id"), col("day"),
      (vwapPm / prevRegClose - 1.0).as("pm_vwap_return"))
  }

  /** Fused single-pass form: all 15 features as window/scalar expressions
    * in ONE select over the substrate — no joins at all; the whole Gold
    * table is substrate + one WindowExec chain. Bit-identical to
    * [[goldTable]] (pl16 verifies against the same oracle as pl14): the
    * fold is the reference-shaped composition, this is the scale path. */
  def goldTableFused(events: DataFrame): DataFrame = {
    val sub = dailySubstrate(events)
    val f5 = wDay.rowsBetween(-4, 0)
    val f20m = wDay.rowsBetween(-20, -1)
    val f20 = wDay.rowsBetween(-19, 0)
    // temps once (windows over them dedupe into the shared WindowExec)
    val lr = log(col("d_last") / col("d_first"))
    val lrq = when(col("d_first") > 0.0 && col("d_last") > 0.0,
      floor(lr * 1e6 + 0.5).cast("long"))
    val dq = floor(col("d_vol") * 100.0 + 0.5).cast("long")
    val dr = col("d_last") / nullif(lag("d_last", 1).over(wDay), lit(0.0)) - 1.0
    val drq = floor(dr * 1e4 + 0.5).cast("long")
    val ats = col("pm_vol") / col("pm_n")
    val withTemps = sub
      .withColumn("__rq5", lrq).withColumn("__dq", dq)
      .withColumn("__rq20", drq).withColumn("__ats", ats)
      .withColumn("__lst", sort_array(collect_list(col("__ats")).over(f20)))
    val s1_5 = sum(col("__rq5")).over(f5).cast("double") / 1e6
    val s2_5 = sum(col("__rq5") * col("__rq5")).over(f5).cast("double") / 1e12
    val n5 = count(col("__rq5")).over(f5)
    val ma = sum(col("__dq")).over(f20m).cast("double") / 20.0 / 100.0
    val n20m = count(col("__dq")).over(f20m)
    val m20 = max("d_last").over(f20m)
    val nd20m = count(col("d_last")).over(f20m)
    val s1_20 = sum(col("__rq20")).over(f20).cast("double") / 1e4
    val s2_20 = sum(col("__rq20") * col("__rq20")).over(f20).cast("double") / 1e8
    val n20 = count(col("__rq20")).over(f20)
    val mu = s1_20 / 20.0
    val sd = sqrt((s2_20 - s1_20 * s1_20 / 20.0) / 19.0)
    val rpm = (col("pm_last") - col("pm_open")) / nullif(col("pm_open"), lit(0.0))
    val prevClose = lag("d_last", 1).over(wDay)
    val wd = ((dayofweek(col("day")) + 5) % 7)
    val holidayExpr = Holidays.sorted.foldLeft(lit(null).cast("int")) {
      (acc, h) => when(col("day") >= lit(h).cast("date"),
        datediff(col("day"), lit(h).cast("date"))).otherwise(acc)
    }
    val med = (element_at(col("__lst"), 10) + element_at(col("__lst"), 11)) / 2.0
    val vwapPm = when(col("pm_vol_sum") > 0.0,
      col("pm_vt_sum").cast("double") / 1e6 / col("pm_vol_sum"))
    withTemps.select(
      col("user_id"), col("day"),
      (lag("d_last", 1).over(wDay) /
        nullif(lag("d_last", 2).over(wDay), lit(0.0)) - 1.0)
        .as("prev_day_return"),
      when(n5 >= 5, sqrt((s2_5 - s1_5 * s1_5 / 5.0) / 4.0))
        .as("std_return_last5d"),
      lag((col("d_high") - col("d_low")) / nullif(col("d_last"), lit(0.0)), 1)
        .over(wDay).as("range_rel_last1d"),
      when(n20m >= 20, col("d_vol") / nullif(ma, lit(0.0))).as("rvol_20d"),
      when(prevClose.isNotNull && prevClose =!= 0.0 &&
           col("pm_open").isNotNull && col("pm_open") =!= 0.0,
        (col("pm_open") - prevClose) / prevClose).otherwise(0.0).as("gap_pct"),
      when(nd20m >= 20,
        (lag("d_last", 1).over(wDay) - m20) / nullif(m20, lit(0.0)))
        .as("dist_max_20d"),
      lag(col("uq_sum").cast("double") / col("n_candles") / 1e9, 1)
        .over(wDay).as("upper_wick_ratio_last1d"),
      lag(col("lq_sum").cast("double") / col("n_candles") / 1e9, 1)
        .over(wDay).as("lower_wick_ratio_last1d"),
      (wd === 0).cast("int").as("weekday_0"),
      (wd === 1).cast("int").as("weekday_1"),
      (wd === 2).cast("int").as("weekday_2"),
      (wd === 3).cast("int").as("weekday_3"),
      (wd === 4).cast("int").as("weekday_4"),
      when(wd < 5, sin(lit(2.0) * lit(math.Pi) * wd.cast("double") / 5.0))
        .as("weekday_sin"),
      when(wd < 5, cos(lit(2.0) * lit(math.Pi) * wd.cast("double") / 5.0))
        .as("weekday_cos"),
      holidayExpr.as("days_since_holiday"),
      when(col("pm_vol_sum") > 0.0,
        col("pm_vol_sq_sum") / (col("pm_vol_sum") * col("pm_vol_sum")))
        .as("hhi_premarket_volume"),
      when(n20 >= 20, (rpm - mu) / nullif(sd, lit(0.0))).as("z_pm"),
      when(size(col("__lst")) >= 20,
        floor(log((col("__ats") + 0.01) / (med + 0.01)) * 1e6 + 0.5)
          .cast("long")).as("r_pm_hist_q"),
      (vwapPm / nullif(lag("reg_close", 1).over(wDay), lit(0.0)) - 1.0)
        .as("pm_vwap_return"))
  }

  /** The library's DEFAULT Gold entry point — the fused single-pass plan.
    * Measured 1.8× cheaper than the fold at sf0.1 against the identical
    * oracle (BENCH_r06: pl16 1.90s vs pl14 3.35s), and plan-bounded by a
    * standing Plans assertion (one shared Sort, broadcast-only joins), so
    * it is the form a 100 TB deployment should call. The reference-shaped
    * fold survives as [[goldTableFold]], the parity witness: both are
    * verified hash-equal against ONE oracle (pl14/pl16). */
  def goldTable(events: DataFrame): DataFrame = goldTableFused(events)

  /** The right-wins fold (my_alpaca.py:296-335): start from the daily
    * spine, merge each feature frame on (user_id, day), dropping any
    * overlapping non-key column from the left first. All frames share the
    * hash(user_id) partitioning, so the fold adds sorts, not shuffles.
    * Kept as the reference-shaped PARITY WITNESS for [[goldTable]] (the
    * fused default); not the recommended entry point at scale. */
  def goldTableFold(events: DataFrame): DataFrame = {
    // No persist: the 15 feature subtrees are plan-identical up to the
    // substrate, so ReuseExchange dedupes them at runtime and the
    // independent window stages execute concurrently — measured faster
    // than materializing the substrate into the block manager first.
    val sub = dailySubstrate(events)
    val features: Seq[DataFrame => DataFrame] = Seq(
      prevDayReturn, stdReturnLast5d, rangeRelLast1d, rvol20d, gapPct,
      distMax20d, upperWickLast1d, lowerWickLast1d, weekdayOneHot,
      weekdayCyclic, daysSinceHoliday, hhiPremarket, premarketZscore,
      premarketTradeSizeRatio, premarketVwapReturn)
    val spine = sub.select("user_id", "day")
    features.foldLeft(spine) { (acc, f) =>
      val feat = f(sub)
      val overlap = feat.columns.filter(c =>
        acc.columns.contains(c) && c != "user_id" && c != "day")
      acc.drop(overlap: _*).join(feat, Seq("user_id", "day"), "left")
    }
  }
}
