package graft.operators

import graft.functions.Rounding.p6
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Diagnostics a forecast/monitoring pipeline runs on its regularized
  * series (the [[Resample]] outputs): is yesterday's model residual
  * white noise (Ljung–Box), is the sign pattern random (Wald–Wolfowitz
  * runs), and if the level shifted, WHEN (Pettitt). All three consume
  * per-group, equally-spaced series — per the [[Resample.ewma]]
  * contract, feed calendar-bounded daily partials, never raw events —
  * so per-group state is a few thousand rows at any corpus scale.
  *
  * Exactness: the series index is row_number over the order column
  * (gap-proof equal spacing); autocovariances and rank statistics are
  * exact integer/DECIMAL(38,0) cross-multiplications (the
  * [[Hypothesis]] discipline), with p6 applied only at the closing
  * double expressions — so every emitted number is engine-portable.
  */
object SeriesTests {

  /** 95% chi-square critical values for df = 1..10 — shared literal
    * table (the oracles embed the same constants).
    */
  private[graft] val chi2Crit95: Map[Int, Double] = Map(
    1 -> 3.841458820694124, 2 -> 5.991464547107979,
    3 -> 7.814727903251179, 4 -> 9.487729036781154,
    5 -> 11.070497693516351, 6 -> 12.591587243743977,
    7 -> 14.067140449340169, 8 -> 15.50731305586545,
    9 -> 16.918977604620448, 10 -> 18.307038053275146)

  /** Full-mean autocorrelation table per group: rho at lags 1..maxLag
    * of the row_number-indexed integer series, by the exact
    * DECIMAL(38,0) autocovariance algebra documented on [[ljungBox]]
    * (which consumes this). Constant series report rho = 0.
    *
    * Output: group, k (lag), n, rho.
    */
  def acf(series: DataFrame, groupCol: String, ordCol: String,
          yCol: String, maxLag: Int): DataFrame = {
    require(maxLag >= 1 && maxLag <= 50, s"maxLag must be in [1,50]: $maxLag")
    val d0 = lit(BigDecimal(0).bigDecimal).cast("decimal(38,0)")
    val idx = series
      .filter(col(ordCol).isNotNull && col(yCol).isNotNull)
      .select(col(groupCol).as("__g"), col(yCol).cast("long").as("__y"),
        row_number().over(Window.partitionBy(col(groupCol))
          .orderBy(col(ordCol))).cast("long").as("__t"))
    val tot = idx.groupBy(col("__g"))
      .agg(count(lit(1)).cast("long").as("n"),
        sum(col("__y")).cast("decimal(38,0)").as("s"),
        sum((col("__y").cast("decimal(19,0)") *
          col("__y").cast("decimal(19,0)")).cast("decimal(38,0)"))
          .cast("decimal(38,0)").as("syy"))
    val lags = explode(typedLit((1 to maxLag).map(_.toLong))).as("k")
    val left = idx.select(col("__g"), col("__y"), col("__t"), lags)
    val right = idx.select(col("__g").as("__g2"), col("__y").as("__y2"),
      col("__t").as("__t2"))
    val perLag = left
      .join(right, col("__g") === col("__g2") &&
        col("__t") + col("k") === col("__t2"))
      .groupBy(col("__g"), col("k"))
      .agg(
        sum((col("__y").cast("decimal(19,0)") *
          col("__y2").cast("decimal(19,0)")).cast("decimal(38,0)"))
          .cast("decimal(38,0)").as("c"),
        sum(col("__y")).cast("decimal(38,0)").as("head"),
        sum(col("__y2")).cast("decimal(38,0)").as("tail"))
    perLag
      .join(tot, perLag("__g") === tot("__g")).drop(tot("__g"))
      .withColumn("covn2",
        col("n") * col("n") * col("c") -
          col("n") * col("s") * (col("head") + col("tail")) +
          (col("n") - col("k")) * col("s") * col("s"))
      .withColumn("varn2",
        col("n") * col("n") * col("syy") - col("n") * col("s") * col("s"))
      .withColumn("rho",
        when(col("varn2") > d0,
          p6(col("covn2").cast("double") / col("varn2").cast("double")))
          .otherwise(lit(0.0)))
      .select(col("__g").as(groupCol), col("k"), col("n"), col("rho"))
  }

  /** Ljung–Box portmanteau test per group over an integer-valued,
    * row_number-indexed series: Q = n(n+2)·Σ_{k=1..m} ρ_k²/(n−k),
    * with ρ_k the full-mean ACF. Integer algebra: with S = Σy,
    * Sk_head/Sk_tail the first/last n−k partial sums and
    * C_k = Σ y_t·y_{t+k},
    *   n²·cov_k = n²·C_k − n·S·(head+tail) + (n−k)·S²
    *   n²·var   = n²·Σy² − n·S²
    * both exact DECIMAL(38,0); ρ_k = p6(cov/var). Per-lag terms are
    * p6(ρ²/(n−k)) summed in DECIMAL, and the closing Q is compared to
    * the shared χ²_m 95% literal.
    *
    * Output: group, n, m_lags, q_stat, reject (Q ≥ χ²_m crit).
    */
  def ljungBox(series: DataFrame, groupCol: String, ordCol: String,
               yCol: String, maxLag: Int = 7): DataFrame = {
    require(maxLag >= 1 && maxLag <= 10,
      s"maxLag must be in [1,10] (chi2 table): $maxLag")
    val crit = chi2Crit95(maxLag)
    val rho = acf(series, groupCol, ordCol, yCol, maxLag)
      .withColumnRenamed("rho", "rho6")
      .withColumn("term6",
        p6(col("rho6") * col("rho6") /
          (col("n") - col("k")).cast("double")))
    rho.groupBy(col(groupCol))
      .agg(max(col("n")).as("n"),
        count(lit(1)).cast("long").as("m_lags"),
        sum(col("term6").cast("decimal(18,6)"))
          .cast("decimal(38,6)").as("st"))
      .select(col(groupCol), col("n"), col("m_lags"),
        p6(col("n").cast("double") * (col("n").cast("double") + 2.0) *
          col("st").cast("double")).as("q_stat"))
      .withColumn("reject", (col("q_stat") >= crit).cast("long"))
  }

  /** Wald–Wolfowitz runs test per group: the series' values are signed
    * against the group mean (above = n·y > S exactly — equality counts
    * below), runs are counted by a lag window, and the normal
    * approximation closes it:
    *   E[R] = 1 + 2·n1·n2/n,  Var[R] = 2·n1·n2·(2·n1·n2 − n)/(n²(n−1))
    * with all products exact DECIMAL(38,0).
    *
    * Output: group, n, n_above, runs, z (p6; 0 when Var = 0).
    */
  def runsTest(series: DataFrame, groupCol: String, ordCol: String,
               yCol: String): DataFrame = {
    val d0 = lit(BigDecimal(0).bigDecimal).cast("decimal(38,0)")
    val base = series
      .filter(col(ordCol).isNotNull && col(yCol).isNotNull)
      .select(col(groupCol).as("__g"), col(ordCol).as("__o"),
        col(yCol).cast("decimal(18,2)").as("__y"))
    val wAll = Window.partitionBy(col("__g"))
    val wOrd = Window.partitionBy(col("__g")).orderBy(col("__o"))
    val signed = base
      .withColumn("n", count(lit(1)).over(wAll).cast("decimal(19,0)"))
      .withColumn("s", sum(col("__y")).over(wAll))
      .withColumn("above",
        (col("__y") * col("n") > col("s")).cast("long"))
      .withColumn("flip",
        when(lag(col("above"), 1).over(wOrd).isNull, 1L)
          .when(lag(col("above"), 1).over(wOrd) =!= col("above"), 1L)
          .otherwise(0L))
    val agg = signed.groupBy(col("__g"))
      .agg(count(lit(1)).cast("long").as("n"),
        sum(col("above")).cast("long").as("n_above"),
        sum(col("flip")).cast("long").as("runs"))
    val n = col("n").cast("decimal(38,0)")
    val n1 = col("n_above").cast("decimal(38,0)")
    val n2 = (col("n") - col("n_above")).cast("decimal(38,0)")
    val two = lit(BigDecimal(2).bigDecimal).cast("decimal(38,0)")
    val er_num = two * n1 * n2 // E[R] = 1 + er_num/n
    val var_num = two * n1 * n2 * (two * n1 * n2 - n)
    val var_den = n * n * (n - lit(1).cast("decimal(38,0)"))
    agg.select(col("__g").as(groupCol), col("n"), col("n_above"),
      col("runs"),
      when(var_den > d0 && var_num > d0,
        p6((col("runs").cast("double") - 1.0 -
          er_num.cast("double") / n.cast("double")) /
          sqrt(var_num.cast("double") / var_den.cast("double"))))
        .otherwise(lit(0.0)).as("z"))
  }

  /** Pettitt changepoint per group: with midranks kept in DOUBLED
    * integer units (mid2 = 2·rank + tie_count − 1, an integer for any
    * ties), U_t = Σ_{i≤t} mid2_i − t·(n+1) is exactly the Pettitt
    * statistic 2·W_t − t·(n+1); K = max_{t<n} |U_t| and the classic
    * approximation p ≈ 2·exp(−6K²/(n³+n²)). The argmax tie-breaks to
    * the EARLIEST index (both engines order by |U| desc, t asc).
    *
    * Output: group, n, k_stat, t_star, ord_star, p_approx.
    */
  def pettitt(series: DataFrame, groupCol: String, ordCol: String,
              yCol: String): DataFrame = {
    val base = series
      .filter(col(ordCol).isNotNull && col(yCol).isNotNull)
      .select(col(groupCol).as("__g"), col(ordCol).as("__o"),
        col(yCol).cast("decimal(18,2)").as("__y"))
    val wAll = Window.partitionBy(col("__g"))
    val wVal = Window.partitionBy(col("__g")).orderBy(col("__y"))
    val wOrd = Window.partitionBy(col("__g")).orderBy(col("__o"))
    val wEq = Window.partitionBy(col("__g"), col("__y"))
    val u = base
      .withColumn("n", count(lit(1)).over(wAll).cast("long"))
      .withColumn("mid2",
        lit(2L) * rank().over(wVal).cast("long") +
          count(lit(1)).over(wEq).cast("long") - 1L)
      .withColumn("t", row_number().over(wOrd).cast("long"))
      .withColumn("w2", sum(col("mid2")).over(
        wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("u_t", col("w2") - col("t") * (col("n") + 1L))
      .where(col("t") < col("n"))
    val best = u
      .withColumn("r", row_number().over(Window.partitionBy(col("__g"))
        .orderBy(abs(col("u_t")).desc, col("t"))))
      .where(col("r") === 1)
    best.select(col("__g").as(groupCol), col("n"),
      abs(col("u_t")).as("k_stat"), col("t").as("t_star"),
      col("__o").as("ord_star"),
      p6(least(lit(1.0), lit(2.0) * exp(
        lit(-6.0) * col("u_t").cast("double") * col("u_t").cast("double") /
          (col("n").cast("double") * col("n").cast("double") *
            col("n").cast("double") +
            col("n").cast("double") * col("n").cast("double")))))
        .as("p_approx"))
  }

  /** Classical additive seasonal decomposition, the weekly-index
    * output: trend = centered 7-point moving average (defined only
    * where all 7 neighbors exist), detrended = y − trend kept exact as
    * 7·y − Σ7 (one DECIMAL subtraction — no division per row), the
    * day-of-week index = mean detrended per dow, centered so the seven
    * indices sum to ~0. "Mondays run +12% of trend" as a number, with
    * the trend removed first — unlike [[Resample.weekdaySeasonality]]'s
    * raw-share view, a ramping series does not fake a weekly pattern
    * here.
    *
    * `dowCol` must be the 1..7 Spark dayofweek convention (the oracle
    * mirrors DuckDB's dayofweek+1).
    *
    * Output: group, dow, n_obs, seasonal (p6, trend units).
    */
  def seasonalDecompose(series: DataFrame, groupCol: String,
                        ordCol: String, dowCol: String,
                        yCol: String): DataFrame = {
    val base = series
      .filter(col(ordCol).isNotNull && col(yCol).isNotNull)
      .select(col(groupCol).as("__g"), col(ordCol).as("__o"),
        col(dowCol).cast("long").as("__dow"),
        col(yCol).cast("decimal(18,2)").as("__y"))
    val w7 = Window.partitionBy(col("__g")).orderBy(col("__o"))
      .rowsBetween(-3, 3)
    val det = base
      .withColumn("__c7", count(lit(1)).over(w7))
      .withColumn("__s7", sum(col("__y")).over(w7))
      .where(col("__c7") === 7L)
      // 7·detrended, exact: 7y − Σ7
      .withColumn("__d7", (col("__y") * lit(7L) - col("__s7"))
        .cast("decimal(38,2)"))
    val raw = det.groupBy(col("__g"), col("__dow"))
      .agg(count(lit(1)).cast("long").as("n_obs"),
        sum(col("__d7")).cast("decimal(38,2)").as("__sd"))
      .withColumn("__raw6", p6(col("__sd").cast("double") /
        (lit(7.0) * col("n_obs").cast("double"))))
    val wG = Window.partitionBy(col("__g"))
    raw
      .withColumn("__m6", p6(
        sum(col("__raw6").cast("decimal(18,6)")).over(wG)
          .cast("double") / count(lit(1)).over(wG).cast("double")))
      .select(col("__g").as(groupCol), col("__dow").as("dow"),
        col("n_obs"), p6(col("__raw6") - col("__m6")).as("seasonal"))
  }

  /** Hurst exponent by rescaled-range (R/S) analysis: for each block
    * size m, split the row-indexed series into full blocks, compute
    * R = range of within-block cumulative deviations (kept exact as
    * m·cum − (k+1)·S, one DECIMAL expression) over S = the block's
    * population std, average R/S per size, and fit
    * log(R/S) ~ H·log(m) by least squares over the size grid.
    * H ≈ 0.5 is a random walk; H > 0.5 long-range persistence — the
    * memory diagnostic beyond [[acf]]'s fixed lags.
    *
    * Cross-arm reductions are DECIMAL sums of p6 values (order-free);
    * the final slope divides once. Blocks with zero variance are
    * dropped; a group needs >= 2 sizes with surviving blocks.
    *
    * Output: group, n_points, n_sizes, hurst.
    */
  def hurstRS(series: DataFrame, groupCol: String, ordCol: String,
              yCol: String,
              blockSizes: Seq[Int] = Seq(8, 16, 32, 64)): DataFrame = {
    require(blockSizes.size >= 2 && blockSizes.forall(_ >= 4),
      s"need >= 2 block sizes, each >= 4: $blockSizes")
    val idx = series
      .filter(col(ordCol).isNotNull && col(yCol).isNotNull)
      .select(col(groupCol).as("__g"),
        col(yCol).cast("decimal(18,2)").as("__y"),
        (row_number().over(Window.partitionBy(col(groupCol))
          .orderBy(col(ordCol))) - 1).cast("long").as("__t"))
    val nPts = idx.groupBy(col("__g"))
      .agg(count(lit(1)).cast("long").as("n_points"))
    val fan = idx
      .select(col("__g"), col("__y"), col("__t"),
        explode(typedLit(blockSizes.map(_.toLong))).as("__m"))
      .withColumn("__blk", expr("__t DIV __m"))
      .withColumn("__k", col("__t") % col("__m"))
    val wBlk = Window.partitionBy(col("__g"), col("__m"), col("__blk"))
    val wCum = wBlk.orderBy(col("__k"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val blocks = fan
      .withColumn("__cnt", count(lit(1)).over(wBlk))
      .where(col("__cnt") === col("__m")) // full blocks only
      .withColumn("__sb", sum(col("__y")).over(wBlk))
      .withColumn("__qb", sum((col("__y").cast("decimal(19,2)") *
        col("__y").cast("decimal(19,2)")).cast("decimal(38,4)"))
        .over(wBlk))
      .withColumn("__cum", sum(col("__y")).over(wCum))
      // m·cumdev_k, exact: m·cum − (k+1)·S
      .withColumn("__d",
        (col("__cum") * col("__m") - (col("__k") + 1L) * col("__sb"))
          .cast("decimal(38,2)"))
    val perBlock = blocks.groupBy(col("__g"), col("__m"), col("__blk"))
      .agg(max(col("__d")).as("__dmax"), min(col("__d")).as("__dmin"),
        max(col("__sb")).as("__sb"), max(col("__qb")).as("__qb"))
      // population variance · m², exact: m·Q − S²
      .withColumn("__vm2",
        (col("__qb") * col("__m") - (col("__sb").cast("decimal(19,2)") *
          col("__sb").cast("decimal(19,2)")).cast("decimal(38,4)"))
          .cast("decimal(38,4)"))
      .where(col("__vm2") > 0)
      // R/S = ((dmax − dmin)/m) / sqrt(vm2/m²)  [both scaled by m]
      .withColumn("__rs6", p6(
        (col("__dmax") - col("__dmin")).cast("double") /
          sqrt(col("__vm2").cast("double"))))
    val perSize = perBlock.groupBy(col("__g"), col("__m"))
      .agg(count(lit(1)).cast("long").as("__nb"),
        sum(col("__rs6").cast("decimal(18,6)")).cast("decimal(38,6)")
          .as("__srs"))
      .withColumn("__mean6",
        p6(col("__srs").cast("double") / col("__nb").cast("double")))
      .where(col("__mean6") > 0.0)
      .withColumn("__x6", p6(log(col("__m").cast("double"))))
      .withColumn("__y6", p6(log(col("__mean6"))))
    val fit = perSize.groupBy(col("__g"))
      .agg(count(lit(1)).cast("long").as("n_sizes"),
        sum(col("__x6").cast("decimal(18,6)")).cast("decimal(38,6)")
          .as("sx"),
        sum(col("__y6").cast("decimal(18,6)")).cast("decimal(38,6)")
          .as("sy"),
        sum((col("__x6").cast("decimal(19,6)") *
          col("__y6").cast("decimal(19,6)")).cast("decimal(38,12)"))
          .cast("decimal(38,12)").as("sxy"),
        sum((col("__x6").cast("decimal(19,6)") *
          col("__x6").cast("decimal(19,6)")).cast("decimal(38,12)"))
          .cast("decimal(38,12)").as("sxx"))
      .filter(col("n_sizes") >= 2L)
    fit.join(broadcast(nPts), Seq("__g"))
      .select(col("__g").as(groupCol), col("n_points"), col("n_sizes"),
        p6((col("n_sizes").cast("double") * col("sxy").cast("double") -
          col("sx").cast("double") * col("sy").cast("double")) /
          (col("n_sizes").cast("double") * col("sxx").cast("double") -
            col("sx").cast("double") * col("sx").cast("double")))
          .as("hurst"))
  }
}
