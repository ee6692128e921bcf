package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Distribution-shaping operators: per-group winsorization (outlier
 * clipping) and the 2-D skyline (Pareto frontier). Extends the reference's
 * QC surface (`/root/reference/dag_mgo_pg_schedule_etl_qc.py:333-369`
 * checks ranges but only reports; winsorize is the repair action) toward
 * the feature-engineering ops a training-data pipeline needs.
 */
object StatsOps {

  /**
   * Money/metric quantization to exact integer cents — THE determinism
   * contract the money-summing oracles rely on, shared so the guard
   * lives once. NaN and |v| > 1e15 return NULL instead of throwing:
   * Spark 4 runs ANSI mode by default, where the bare DECIMAL(18,2)
   * cast of a NaN or out-of-range double kills the whole job — one bad
   * gauge reading must cost one row, not the query. Callers filter the
   * null (dirty-row-skip semantics).
   */
  private[graft] def cents(c: Column): Column =
    when(!isnan(c) && c.between(-1e15, 1e15),
      (c.cast(org.apache.spark.sql.types.DecimalType(18, 2)) * 100)
        .cast("long"))
      .otherwise(lit(null))

  /** Row cap of what a driver-side finisher collects: the grid of
    * [[ipfRake]] and [[medianTest]], whose contract is bounded LEVELS (a
    * grid past a million cells is a high-cardinality key, not a level
    * set), and the contracted edge list of
    * [[graft.ext.DedupOps.mergeComponents]]. */
  private[graft] val FinisherGridCap = 1000000

  /** Collects `df` when it has at most `cap` rows, `None` otherwise. The
    * cap rides the collect as a LIMIT cap + 1 — no separate counting job,
    * and never more than cap + 1 rows on the driver. */
  private[graft] def boundedCollect(df: DataFrame,
                                    cap: Int): Option[Array[org.apache.spark.sql.Row]] = {
    val rows = df.limit(cap + 1).collect()
    if (rows.length > cap) None else Some(rows)
  }

  /** Collects a finisher's grid, failing with a named contract violation
    * over [[FinisherGridCap]] rows instead of risking a driver OOM. */
  private def collectGrid(grid: DataFrame, op: String): Array[org.apache.spark.sql.Row] =
    boundedCollect(grid, FinisherGridCap).getOrElse(
      throw new IllegalArgumentException(
        s"$op: bounded-levels contract violated — the collected grid exceeds " +
          s"$FinisherGridCap cells; its key columns are not bounded levels"))

  /** A collected key as a driver-side grouping key: BinaryType values
    * collect as Array[Byte], whose equality is by reference, so two
    * content-equal keys would form two groups where Spark forms one. */
  private def contentKey(v: Any): Any = v match {
    case b: Array[Byte] => b.toSeq
    case x => x
  }

  /**
   * Winsorize `valueCol` per `group`: clip to the exact [`lo`, `hi`]
   * quantiles of the group's own distribution (bounds rounded to 6 dp so
   * the clipped value is reproducible across engines). Appends
   * `<valueCol>_w`; all input columns pass through.
   *
   * One aggregate over the groups (bounds are |groups| rows) + a broadcast
   * join back — the corpus itself is never sorted or shuffled. Exact
   * percentiles pay one full-width agg per group; for corpora where even
   * that is too wide, the `percentile_approx` sketch drops in unchanged
   * (see SamplingOps.percentileKeepApprox for the precedent).
   */
  def winsorize(df: DataFrame, group: String, valueCol: String,
                lo: Double, hi: Double): DataFrame = {
    require(lo >= 0 && hi <= 1 && lo < hi, s"bad quantile range [$lo,$hi]")
    val bounds = df.groupBy(group).agg(
      round(expr(s"percentile($valueCol, $lo)"), 6).as("_lo"),
      round(expr(s"percentile($valueCol, $hi)"), 6).as("_hi"))
    df.join(broadcast(bounds), Seq(group))
      .withColumn(s"${valueCol}_w",
        least(greatest(col(valueCol), col("_lo")), col("_hi")))
      .drop("_lo", "_hi")
  }

  /**
   * 2-D skyline (Pareto frontier): keep rows not strictly dominated —
   * no other row has `xCol` ≤ (smaller-is-better) AND `yCol` ≥
   * (bigger-is-better) with at least one strict. Equal (x, y) pairs
   * dominate neither direction, so exact duplicates all survive.
   *
   * `xCol` must be integral (the strict-predecessor window uses a RANGE
   * frame, which Spark restricts to integral order keys — convert prices
   * to cents etc. at the call site).
   *
   * Implementation is the classic two-phase distributed skyline: a LOCAL
   * skyline per input partition (window keyed by the scan partition id —
   * every globally non-dominated row is locally non-dominated, so pruning
   * is lossless), then the GLOBAL pass over local survivors only. The sort
   * each phase pays is the sort-based skyline algorithm itself; phase 2's
   * single partition sees only frontier candidates (typically O(√n) of a
   * random corpus), never the corpus. A row survives a pass iff its y
   * strictly exceeds every strictly-cheaper row's y (RANGE frame ending at
   * -1) and equals the max y at its own x (same-x domination).
   */
  /**
   * CHI-SQUARE test of independence between two categorical columns —
   * the experiment-analysis primitive ("does variant correlate with
   * outcome"): observed cell counts vs the independence expectation
   * e = rowTotal·colTotal/n, statistic Σ (o−e)²/e. Emits one row
   * (n, n_cells, dof, chi2); the caller compares chi2 against the
   * χ²(dof) critical value (p-values need the incomplete gamma, which
   * is NOT cross-engine reproducible — the statistic is).
   *
   * Deterministic: all counts exact integers; each cell's term rounds
   * to 8dp and sums through DECIMAL, so partition order can't wiggle
   * the statistic.
   *
   * NULL categories are EXCLUDED (both columns must be non-null): a
   * null is an absent observation, not a category. Keeping the
   * null-keyed groups would inflate the marginals/dof/n while the
   * null-unsafe grid join could never match them back — silently
   * distorting the statistic on any nullable input.
   *
   * Scale: one (a, b) cell aggregate (contingency-sized) + two marginal
   * rollups + a 1-row total broadcast — the corpus streams once.
   */
  def chiSquareIndependence(df: DataFrame, aCol: String,
                            bCol: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(20, 8)
    val obs = df
      .filter(col(aCol).isNotNull && col(bCol).isNotNull)
      .groupBy(col(aCol).as("__a"), col(bCol).as("__b"))
      .agg(count(lit(1)).as("o"))
    val ra = obs.groupBy("__a").agg(sum(col("o")).as("ra"))
    val rb = obs.groupBy("__b").agg(sum(col("o")).as("rb"))
    val tot = obs.agg(sum(col("o")).as("n"))
    val dof = ra.agg(count(lit(1)).as("ka"))
      .crossJoin(broadcast(rb.agg(count(lit(1)).as("kb"))))
      .select(col("ka"), col("kb"),
        (((col("ka") - 1) * (col("kb") - 1))).as("dof"))
    // EVERY marginal cell participates — an observed-pairs-only sum
    // silently drops the (0 − e)²/e terms of empty cells, understating
    // the statistic exactly where dependence is strongest
    val cells = ra.crossJoin(rb)
      .join(obs, Seq("__a", "__b"), "left")
      .select(col("ra"), col("rb"), coalesce(col("o"), lit(0L)).as("o"))
    val e = col("ra").cast("double") * col("rb") / col("n")
    cells.crossJoin(broadcast(tot))
      .select(col("n"),
        round((col("o") - e) * (col("o") - e) / e, 8).cast(dec).as("__t"))
      .groupBy("n")
      .agg(count(lit(1)).as("n_cells"),
        sum(col("__t")).cast("double").as("chi2"))
      .crossJoin(broadcast(dof))
      // ka/kb ride along so effect-size derivations (Cramér's V divides
      // by min(ka−1, kb−1), which dof alone cannot recover) need no
      // second pass over the data
      .select(col("n"), col("n_cells"), col("ka"), col("kb"),
        col("dof"), col("chi2"))
  }

  /**
   * G-TEST of independence — the log-likelihood-ratio twin of
   * [[chiSquareIndependence]]: G = 2·Σ o·ln(o·n/(râ·r̂b)), same null,
   * same dof, but ADDITIVE across partitions of the table (a G
   * computed per shard/day sums to the pooled G — chi² doesn't
   * decompose), which is the property a federated QC pipeline needs.
   * Only observed cells contribute (0·ln 0 = 0, the mutualInformation
   * contract — and indeed G = 2n·MI in nats). Emits one row (n,
   * n_cells, ka, kb, dof, g_stat) with n_cells = OBSERVED cells.
   *
   * Deterministic: per-cell 2·o·ln(o·n/(ra·rb)) terms round to 8dp
   * and sum through DECIMAL.
   *
   * Scale: the chi² shape — one cell aggregate + two marginal rollups
   * + 1-row broadcasts; the corpus streams once.
   */
  def gTest(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(20, 8)
    val obs = df
      .filter(col(aCol).isNotNull && col(bCol).isNotNull)
      .groupBy(col(aCol).as("__a"), col(bCol).as("__b"))
      .agg(count(lit(1)).as("o"))
    val ra = obs.groupBy("__a").agg(sum(col("o")).as("ra"))
    val rb = obs.groupBy("__b").agg(sum(col("o")).as("rb"))
    val tot = obs.agg(sum(col("o")).as("n"))
    val dof = ra.agg(count(lit(1)).as("ka"))
      .crossJoin(broadcast(rb.agg(count(lit(1)).as("kb"))))
      .select(col("ka"), col("kb"),
        ((col("ka") - 1) * (col("kb") - 1)).as("dof"))
    val term = lit(2.0) * col("o") * log(col("o").cast("double") * col("n") /
      (col("ra").cast("double") * col("rb")))
    obs.join(ra, "__a").join(rb, "__b").crossJoin(broadcast(tot))
      .select(col("n"), round(term, 8).cast(dec).as("__t"))
      .groupBy("n")
      // G >= 0 mathematically; the 8dp per-cell rounding can leave a
      // -1e-6 residue on a near-independent table, so clamp the final
      // sum at 0 (the mutualInformation contract)
      .agg(count(lit(1)).as("n_cells"),
        greatest(lit(0.0),
          round(sum(col("__t")).cast("double"), 6)).as("g_stat"))
      .crossJoin(broadcast(dof))
      .select(col("n"), col("n_cells"), col("ka"), col("kb"), col("dof"),
        col("g_stat"))
  }

  /**
   * HERFINDAHL–HIRSCHMAN concentration INDEX per market — "is this
   * slice's volume spread across many members or owned by a few":
   * HHI = Σ_members share², the antitrust statistic and, for a data
   * pipeline, the dependence-risk number per (source, supplier,
   * customer) slice that [[graft.SparkEntry]]'s top-share readout
   * cannot give (top-k share ignores the shape of the remainder).
   * Also emits the effective member count 1/HHI ("this market behaves
   * like N equal firms"). Emits one row per market: (market,
   * n_members, hhi 6dp, effective_members 6dp), ordered; HHI ∈
   * (1/n, 1], 1 = monopoly.
   *
   * Deterministic: member totals are exact cents; each share² term is
   * a division of exact values rounded 8dp into a decimal sum.
   *
   * Scale: two partial-aggregating passes ((market, member) → market)
   * + a market-sized broadcast join of totals — no window, no sort.
   */
  def hhiConcentration(df: DataFrame, marketCol: String, memberCol: String,
                       valueCol: String): DataFrame = {
    val dterm = org.apache.spark.sql.types.DecimalType(20, 8)
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val per = df
      .select(col(marketCol).as("market"), col(memberCol).as("__m"),
        cents(col(valueCol)).as("__v"))
      .filter(col("market").isNotNull && col("__m").isNotNull &&
        col("__v").isNotNull)
      .groupBy("market", "__m")
      .agg(sum(col("__v").cast(dec)).as("__mv"))
    val totals = per.groupBy("market").agg(sum(col("__mv")).as("__tv"))
    val share = col("__mv").cast("double") / col("__tv").cast("double")
    per.join(broadcast(totals), "market")
      .filter(col("__tv") > 0)
      .select(col("market"), round(share * share, 8).cast(dterm).as("__t"))
      .groupBy("market")
      .agg(count(lit(1)).as("n_members"),
        round(sum(col("__t")).cast("double"), 6).as("hhi"))
      .select(col("market"), col("n_members"), col("hhi"),
        when(col("hhi") > 0, round(lit(1.0) / col("hhi"), 6))
          .otherwise(lit(null).cast("double")).as("effective_members"))
      .orderBy("market")
  }

  /**
   * IPF / RAKING weights — iterative proportional fitting of cell
   * weights so BOTH marginals hit uniform targets: the standard survey
   * / training-mix balancer ("reweight the corpus so every language
   * AND every source carries equal mass") when per-cell resampling
   * would discard data a smooth weight can keep. `rounds` alternating
   * row/column scalings (the classic Deming–Stephan sweep, geometric
   * convergence); weights stay per-CELL — multiply a row's weight by
   * `row_weight` downstream. Emits one row per observed (a, b) cell:
   * (a, b, n_cell, raked_weight 6dp — the cell's total fitted mass,
   * summing to n — and row_weight 6dp = raked/n_cell), ordered.
   *
   * Deterministic: cell counts exact; after every scaling the weight
   * ROUNDS to 8dp into DECIMAL(28,8), so the per-row/per-column sums
   * the next ratio divides by are exact decimal sums (k-way float-add
   * order never touches a weight); ratios are single divisions.
   *
   * Scale: the corpus streams ONCE into the |A|×|B| observed-cell
   * aggregate (bounded LEVELS are the contract, as for chi², enforced at
   * [[FinisherGridCap]] cells); the
   * Deming–Stephan sweeps then run DRIVER-SIDE on the collected grid —
   * a bounded post-aggregation model artifact, the distributedNtiles /
   * transition-grid class — in arithmetic that mirrors the engine
   * expression chain step for step (exact java.math.BigDecimal marginal
   * sums; each re-quantization is the same double multiply + HALF_UP
   * 8dp round the SQL form computed), so results are bit-identical to
   * the former per-round aggregate/join formulation at any grid. At any
   * corpus size the corpus cost is the ONE grid aggregate; the former
   * form paid ~9 grid-sized Spark jobs per round (2 aggregates, 2
   * broadcasts, a materialize cut) whose per-job scheduling latency
   * dwarfed the grid arithmetic at every scale.
   */
  def ipfRake(df: DataFrame, aCol: String, bCol: String,
              rounds: Int = 5): DataFrame = {
    require(rounds >= 1 && rounds <= 20, s"rounds in [1, 20], got $rounds")
    val spark = df.sparkSession
    val cells = df
      .filter(col(aCol).isNotNull && col(bCol).isNotNull)
      .groupBy(col(aCol).as("a"), col(bCol).as("b"))
      .agg(count(lit(1)).as("n_cell"))
    val grid = collectGrid(cells, "ipfRake")
    val outSchema = org.apache.spark.sql.types.StructType(
      cells.schema.fields.take(2) ++ Seq(
        org.apache.spark.sql.types.StructField("n_cell",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("raked_weight",
          org.apache.spark.sql.types.DoubleType),
        org.apache.spark.sql.types.StructField("row_weight",
          org.apache.spark.sql.types.DoubleType)))
    if (grid.isEmpty) {
      import scala.jdk.CollectionConverters._
      return spark.createDataFrame(
        Seq.empty[org.apache.spark.sql.Row].asJava, outSchema)
    }
    val a = grid.map(r => contentKey(r.get(0)))
    val b = grid.map(r => contentKey(r.get(1)))
    val nCell = grid.map(_.getLong(2))
    val n = nCell.sum.toDouble
    val ka = a.distinct.length.toDouble
    val kb = b.distinct.length.toDouble
    // weights in exact DECIMAL(28,8) semantics: java BigDecimal at scale 8
    var w: Array[java.math.BigDecimal] =
      nCell.map(c => java.math.BigDecimal.valueOf(c).setScale(8))
    // one re-quantization step == the engine/oracle expression
    // CAST(ROUND(CAST(w AS DOUBLE) * (CAST(n AS DOUBLE)/k/CAST(ms AS DOUBLE)), 8)
    //      AS DECIMAL(28,8)), floored at 1e-8 (greatest(lit(1e-8), …)):
    // on an extremely skewed grid the 8dp rounding could zero a cell and
    // a zero marginal would then drive Infinity/NaN through every
    // remaining round — the floor (never binding on count-seeded grids,
    // where weights start >= 1) degrades the degenerate case gracefully
    def requantize(wi: java.math.BigDecimal, k: Double,
                   marginal: java.math.BigDecimal): java.math.BigDecimal = {
      val x = wi.doubleValue * (n / k / marginal.doubleValue)
      val r = math.max(1e-8, java.math.BigDecimal.valueOf(x)
        .setScale(8, java.math.RoundingMode.HALF_UP).doubleValue)
      java.math.BigDecimal.valueOf(r).setScale(8, java.math.RoundingMode.HALF_UP)
    }
    def sweep(keys: Array[Any], k: Double): Unit = {
      val sums = scala.collection.mutable.HashMap
        .empty[Any, java.math.BigDecimal]
      var i = 0
      while (i < w.length) {
        sums.updateWith(keys(i)) {
          case Some(s) => Some(s.add(w(i)))
          case None => Some(w(i))
        }
        i += 1
      }
      w = Array.tabulate(w.length)(i => requantize(w(i), k, sums(keys(i))))
    }
    for (_ <- 1 to rounds) {
      sweep(a, ka)
      sweep(b, kb)
    }
    def r6(x: Double): Double = java.math.BigDecimal.valueOf(x)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue
    val rows = grid.indices.map { i =>
      val wd = w(i).doubleValue
      org.apache.spark.sql.Row(grid(i).get(0), grid(i).get(1), nCell(i),
        r6(wd), r6(wd / nCell(i)))
    }
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(rows.asJava, outSchema).orderBy("a", "b")
  }

  /**
   * PARTIAL CORRELATION — the linear association of x and y with z
   * HELD FIXED: r_xy·z = (r_xy − r_xz·r_yz)/√((1−r_xz²)(1−r_yz²)),
   * i.e. the correlation of the two OLS residuals after regressing
   * each on z — the one-line confounder check before anyone reads
   * `q_corr_regr`'s raw correlation causally ("price tracks quantity —
   * or do both just track discount?"). Emits one row (n, r_xy, r_xz,
   * r_yz, r_xy_given_z), 6dp; any degenerate leg (zero variance,
   * |r·z| = 1) emits NULL for the partial.
   *
   * Deterministic: all nine moments are exact integer cents in
   * DECIMAL(38,0) from ONE aggregation pass; the three correlations
   * and the partial are one pinned double chain.
   *
   * Scale: a single partial-aggregating scan to one row — the
   * reconcile shape at three columns.
   */
  def partialCorr(df: DataFrame, xCol: String, yCol: String,
                  zCol: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val base = df.select(cents(col(xCol)).as("__x"),
        cents(col(yCol)).as("__y"), cents(col(zCol)).as("__z"))
      .filter(col("__x").isNotNull && col("__y").isNotNull &&
        col("__z").isNotNull)
    val x = col("__x").cast(dec); val y = col("__y").cast(dec)
    val z = col("__z").cast(dec)
    val m = base.agg(count(lit(1)).as("n"),
      sum(x).as("sx"), sum(y).as("sy"), sum(z).as("sz"),
      sum(x * x).as("sxx"), sum(y * y).as("syy"), sum(z * z).as("szz"),
      sum(x * y).as("sxy"), sum(x * z).as("sxz"), sum(y * z).as("syz"))
    val nD = col("n").cast(dec)
    def corr(spq: Column, sp: Column, sq: Column, spp: Column,
             sqq: Column): Column = {
      val num = (nD * spq - sp * sq).cast("double")
      val dp = (nD * spp - sp * sp).cast("double")
      val dq = (nD * sqq - sq * sq).cast("double")
      when(dp > 0 && dq > 0, num / sqrt(dp * dq))
        .otherwise(lit(null).cast("double"))
    }
    val rxy = corr(col("sxy"), col("sx"), col("sy"), col("sxx"), col("syy"))
    val rxz = corr(col("sxz"), col("sx"), col("sz"), col("sxx"), col("szz"))
    val ryz = corr(col("syz"), col("sy"), col("sz"), col("syy"), col("szz"))
    val den = (lit(1.0) - rxz * rxz) * (lit(1.0) - ryz * ryz)
    m.select(col("n"), round(rxy, 6).as("r_xy"), round(rxz, 6).as("r_xz"),
      round(ryz, 6).as("r_yz"),
      when(rxy.isNotNull && rxz.isNotNull && ryz.isNotNull && den > 0,
        round((rxy - rxz * ryz) / sqrt(den), 6))
        .otherwise(lit(null).cast("double")).as("r_xy_given_z"))
  }

  /**
   * STANDARDIZED RESIDUALS per contingency cell — the drill-down behind
   * [[chiSquareIndependence]]'s single number: which (a, b) cells
   * actually drive the dependence, via (o − e)/√e per cell (|residual|
   * ≳ 2 reads as "this cell deviates significantly"). Every marginal
   * cell participates including empty ones (the chi² contract — an
   * expected-but-absent combination IS a finding). Emits (a, b, o,
   * expected 4dp, std_residual 4dp), ordered.
   *
   * Scale: identical shape to chi² — cell aggregate + marginal rollups
   * + 1-row total; output is grid-sized.
   */
  def chiSquareResiduals(df: DataFrame, aCol: String,
                         bCol: String): DataFrame = {
    val obs = df
      .filter(col(aCol).isNotNull && col(bCol).isNotNull)
      .groupBy(col(aCol).as("__a"), col(bCol).as("__b"))
      .agg(count(lit(1)).as("o"))
    val ra = obs.groupBy("__a").agg(sum(col("o")).as("ra"))
    val rb = obs.groupBy("__b").agg(sum(col("o")).as("rb"))
    val tot = obs.agg(sum(col("o")).as("n"))
    val cells = ra.crossJoin(rb)
      .join(obs, Seq("__a", "__b"), "left")
      .select(col("__a"), col("__b"), col("ra"), col("rb"),
        coalesce(col("o"), lit(0L)).as("o"))
    val e = col("ra").cast("double") * col("rb") / col("n")
    cells.crossJoin(broadcast(tot))
      .select(col("__a").as(aCol), col("__b").as(bCol), col("o"),
        round(e, 4).as("expected"),
        round((col("o") - e) / sqrt(e), 4).as("std_residual"))
      .orderBy(aCol, bCol)
  }

  /**
   * Two-sample KOLMOGOROV–SMIRNOV statistic — max |F_A(v) − F_B(v)| over
   * the observed support: the exact "are these two slices drawn from the
   * same distribution" number for numeric columns (the distribution
   * complement of [[QualityCheck.driftPsi]]'s binned shape test; KS
   * needs no binning choice). Emits one row (n_a, n_b, ks_stat, at_v =
   * the smallest value attaining the max — the WHERE of the divergence).
   *
   * Deterministic: CDF steps are exact-integer-count ratios rounded to
   * 8dp before the max; the argmax value ties to the smallest v.
   *
   * Scale: one distinct-value aggregate + a cumulative window over the
   * SORTED DISTINCT support. The window is a single global order — fine
   * for integer-cent/binned columns (bounded support); pre-round/bin
   * continuous doubles first, exactly as any production KS does.
   */
  def ksStatistic(df: DataFrame, valueCol: String, groupCol: String,
                  groupA: String, groupB: String): DataFrame = {
    val counts = df
      .filter(col(groupCol) === groupA || col(groupCol) === groupB)
      .filter(col(valueCol).isNotNull)
      .groupBy(col(valueCol).as("v"))
      .agg(sum(when(col(groupCol) === groupA, 1L).otherwise(0L)).as("ca"),
        sum(when(col(groupCol) === groupB, 1L).otherwise(0L)).as("cb"))
    val tot = counts.agg(sum(col("ca")).as("na"), sum(col("cb")).as("nb"))
    // unpartitioned window BOUND: the pre-binned distinct-value support
    val w = Window.orderBy(col("v").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    counts.crossJoin(broadcast(tot))
      // an EMPTY sample (misspelled group value, empty slice) has no CDF —
      // emit no row rather than the Infinity/NaN a bare division yields
      // (the degenerate-input convention clusterAgreement documents)
      .filter(col("na") > 0 && col("nb") > 0)
      .select(col("v"), col("na"), col("nb"),
        sum(col("ca")).over(w).as("cca"), sum(col("cb")).over(w).as("ccb"))
      .select(col("v"), col("na"), col("nb"),
        round(abs(col("cca").cast("double") / col("na") -
          col("ccb").cast("double") / col("nb")), 8).as("d"))
      .orderBy(col("d").desc, col("v").asc)
      .limit(1)
      .select(col("na").as("n_a"), col("nb").as("n_b"),
        col("d").as("ks_stat"), col("v").as("at_v"))
  }

  /**
   * KUIPER two-sample statistic — V = D⁺ + D⁻, the SIGNED-gap twin of
   * [[ksStatistic]]: KS takes the single largest |CDF gap| and goes
   * blind when one sample leads in the lower tail and lags in the
   * upper by similar amounts (the classic cyclic/phase-shift shape —
   * a distribution rotated around the week); Kuiper adds the largest
   * gap in EACH direction, catching tail-swap and cyclic shifts with
   * near-uniform sensitivity across the support. Emits one row (n_a,
   * n_b, d_plus, d_minus, v_stat), 8dp.
   *
   * Deterministic: the [[ksStatistic]] discipline — exact cumulative
   * counts over the pre-binned support, per-value signed gaps rounded
   * 8dp, two max reduces.
   *
   * Scale: the KS shape exactly — one support-sized histogram + one
   * cumulative window over the bounded support + a one-row reduce.
   */
  def kuiperTest(df: DataFrame, valueCol: String, groupCol: String,
                 groupA: String, groupB: String): DataFrame = {
    val counts = df
      .filter(col(groupCol) === groupA || col(groupCol) === groupB)
      .filter(col(valueCol).isNotNull)
      .groupBy(col(valueCol).as("v"))
      .agg(sum(when(col(groupCol) === groupA, 1L).otherwise(0L)).as("ca"),
        sum(when(col(groupCol) === groupB, 1L).otherwise(0L)).as("cb"))
    val tot = counts.agg(sum(col("ca")).as("na"), sum(col("cb")).as("nb"))
    // unpartitioned window BOUND: the pre-binned distinct-value support
    val w = Window.orderBy(col("v").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    counts.crossJoin(broadcast(tot))
      .filter(col("na") > 0 && col("nb") > 0)
      .select(col("na"), col("nb"),
        round(sum(col("ca")).over(w).cast("double") / col("na") -
          sum(col("cb")).over(w).cast("double") / col("nb"), 8).as("g"))
      .groupBy("na", "nb")
      .agg(greatest(max(col("g")), lit(0.0)).as("d_plus"),
        greatest(-min(col("g")), lit(0.0)).as("d_minus"))
      .select(col("na").as("n_a"), col("nb").as("n_b"),
        col("d_plus"), col("d_minus"),
        round(col("d_plus") + col("d_minus"), 8).as("v_stat"))
  }

  /**
   * WILSON score interval for per-group success rates — the confidence
   * band an experiment dashboard puts around a conversion rate. Unlike
   * the naive normal interval, Wilson stays inside [0, 1] and behaves at
   * small n / extreme p — the standard choice for rate reporting.
   *
   * `successCol` must be boolean. Emits (groupCol, n, k, rate, lo, hi),
   * rate/bounds 6dp. Deterministic: k and n are exact integers and the
   * interval is one fixed-order double expression per group row.
   *
   * Scale: one partial+final aggregate; the arithmetic runs on the
   * |groups|-row result.
   */
  def wilsonInterval(df: DataFrame, groupCol: String, successCol: String,
                     z: Double = 1.96): DataFrame = {
    val agg = df.groupBy(groupCol)
      .agg(count(lit(1)).as("n"),
        sum(when(col(successCol), 1L).otherwise(0L)).as("k"))
    val n = col("n"); val k = col("k")
    // all arithmetic in DOUBLE: the long product 4·n·n overflows (and
    // under ANSI, throws) above ~1.5e9-row groups — the same overflow
    // discipline that routes gini's rank×cents through DECIMAL
    val nD = n.cast("double")
    val p = k.cast("double") / nD
    val denom = lit(1.0) + lit(z) * lit(z) / nD
    val center = p + lit(z) * lit(z) / (lit(2.0) * nD)
    val half = lit(z) * sqrt(p * (lit(1.0) - p) / nD +
      lit(z) * lit(z) / (lit(4.0) * nD * nD))
    agg.select(col(groupCol), n, k,
      round(p, 6).as("rate"),
      round((center - half) / denom, 6).as("lo"),
      round((center + half) / denom, 6).as("hi"))
  }

  /**
   * GINI coefficient per group — how CONCENTRATED a (non-negative)
   * quantity is: 0 = perfectly even, →1 = one member owns everything.
   * The corpus-health number behind "is our training data dominated by
   * three domains" and the revenue-concentration number behind "do five
   * customers carry this segment". Uses the rank formula
   * G = (2·Σ i·xᵢ − (n+1)·Σ xᵢ) / (n·Σ xᵢ) over ascending values.
   *
   * Returns (groupCol, n, total, gini) — total is the exact integer-
   * cent sum cast back to double, gini 6dp; single-member groups emit
   * gini 0.
   *
   * Deterministic: values route through integer cents; Σ i·xᵢ is
   * invariant to tie ORDER among equal values (equal x at swapped ranks
   * contribute the same sum), so no cross-engine tie hazard exists; the
   * two sums ride DECIMAL.
   *
   * Scale: one shuffle on the group + a per-group ranking — the same
   * cost class as any per-group percentile; at extreme group sizes the
   * binned approximation (Lorenz curve from an equi-depth histogram)
   * drops in.
   */
  def gini(df: DataFrame, groupCol: String, valueCol: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(28, 0)
    val w = Window.partitionBy(groupCol).orderBy(col("__x").asc)
    val ranked = df
      .select(col(groupCol), cents(col(valueCol)).as("__x"))
      .filter(col("__x").isNotNull)
      .withColumn("__i", row_number().over(w).cast("long"))
    // rank × cents multiplies IN decimal — the long product overflows
    // (and under ANSI, throws) at big-group × big-value combinations
    // the decimal sum is supposed to survive
    ranked.groupBy(groupCol)
      .agg(count(lit(1)).as("n"),
        sum(col("__x").cast(dec)).as("__sx"),
        sum(col("__i").cast(dec) * col("__x").cast(dec)).as("__six"))
      .select(col(groupCol), col("n"),
        (col("__sx").cast("double") / 100).as("total"),
        when(col("n") === 1 || col("__sx") === 0, lit(0.0))
          .otherwise(round(
            (lit(2) * col("__six") - (col("n") + 1) * col("__sx"))
              .cast("double") /
              (col("n") * col("__sx")).cast("double"), 6)).as("gini"))
  }

  /**
   * THEIL INDEX with WITHIN/BETWEEN decomposition — the inequality
   * measure that DECOMPOSES exactly: T = Σ_g s_g·T_g (within) +
   * Σ_g s_g·ln(μ_g/μ) (between), s_g = group value share. Where
   * [[gini]] gives one number per group, Theil answers the next
   * question — "is the corpus's value inequality driven by gaps
   * BETWEEN segments or by spread INSIDE them" (the domain-mix vs
   * in-domain-skew split a sampling-weights design needs). Zero and
   * negative values are excluded (ln; the standard income-data
   * contract). Emits one row (n, k_groups, theil_within,
   * theil_between, theil_total), 6dp, total = within + between by
   * construction.
   *
   * Deterministic: values are exact cents; per-row (x/μ_g)·ln(x/μ_g)
   * terms and per-group share·ln terms round to 8dp and sum through
   * DECIMAL; the group joins broadcast k-row stats.
   *
   * Scale: one group aggregate (k rows, broadcast back) + one
   * corpus-streaming term pass + a k-row reduce — no windows, no
   * sort.
   */
  def theilIndex(df: DataFrame, groupCol: String,
                 valueCol: String): DataFrame = {
    val dterm = org.apache.spark.sql.types.DecimalType(24, 8)
    val dec = dec380
    val base = df
      .select(col(groupCol).as("__g"), cents(col(valueCol)).as("__x"))
      .filter(col("__g").isNotNull && col("__x").isNotNull && col("__x") > 0)
    val gs = base.groupBy("__g")
      .agg(count(lit(1)).as("__ng"), sum(col("__x").cast(dec)).as("__sg"))
    val tot = gs.agg(sum(col("__ng")).as("n"), sum(col("__sg")).as("__s"),
      count(lit(1)).as("k_groups"))
    // per-row within terms: (x/μ_g)·ln(x/μ_g) with x/μ_g = x·n_g/s_g
    val ratio = col("__x").cast("double") * col("__ng").cast("double") /
      col("__sg").cast("double")
    val within = base.join(broadcast(gs), "__g")
      .select(col("__g"), round(ratio * log(ratio), 8).cast(dterm).as("__t"))
      .groupBy("__g").agg(sum(col("__t")).as("__tg2"))
      // T_g = (1/n_g)·Σ terms; weight by the value share s_g/s
      .join(broadcast(gs), "__g").crossJoin(broadcast(tot))
      .select(round(
        (col("__sg").cast("double") / col("__s").cast("double")) *
          (col("__tg2").cast("double") / col("__ng").cast("double")), 8)
        .cast(dterm).as("__w"))
      .agg(coalesce(sum(col("__w")), lit(0).cast(dterm)).as("__within"))
    val between = gs.crossJoin(broadcast(tot))
      .select(round(
        (col("__sg").cast("double") / col("__s").cast("double")) *
          log(col("__sg").cast("double") * col("n").cast("double") /
            (col("__s").cast("double") * col("__ng").cast("double"))), 8)
        .cast(dterm).as("__b"))
      .agg(coalesce(sum(col("__b")), lit(0).cast(dterm)).as("__between"))
    tot.crossJoin(broadcast(within)).crossJoin(broadcast(between))
      .filter(col("n") > 0)
      .select(col("n"), col("k_groups"),
        round(col("__within").cast("double"), 6).as("theil_within"),
        round(col("__between").cast("double"), 6).as("theil_between"),
        round((col("__within") + col("__between")).cast("double"), 6)
          .as("theil_total"))
  }

  /**
   * ATKINSON INDEX (ε = 1) per group — inequality as WELFARE LOSS:
   * A = 1 − geomean/mean, "what fraction of this segment's total value
   * could be discarded with no welfare loss if the rest were spread
   * evenly". The normative companion to [[gini]] (rank-weighted) and
   * [[theilIndex]] (log-deviation): at ε = 1 the index weights
   * transfers at the bottom of the distribution most — the right lens
   * for "is this domain's token budget carried by a starving tail".
   * Zero/negative values excluded (geomean). Emits one row per group:
   * (group, n, mean, atkinson), mean in original units 6dp, index 6dp
   * in [0, 1).
   *
   * Deterministic: exact-cents values; per-row ln(x) terms round 8dp
   * and sum through DECIMAL; geomean = exp(Σ/n) is one pinned double
   * chain per group (the [[kaplanMeier]] exp-of-summed-logs
   * discipline).
   *
   * Scale: one partial-aggregating group pass — no windows, no joins;
   * the corpus streams once.
   */
  def atkinsonIndex(df: DataFrame, groupCol: String,
                    valueCol: String): DataFrame = {
    val dterm = org.apache.spark.sql.types.DecimalType(24, 8)
    val dec = dec380
    val base = df
      .select(col(groupCol), cents(col(valueCol)).as("__x"))
      .filter(col(valueCol).isNotNull && col("__x").isNotNull &&
        col("__x") > 0)
    base.groupBy(groupCol)
      .agg(count(lit(1)).as("n"), sum(col("__x").cast(dec)).as("__s"),
        sum(round(log(col("__x").cast("double")), 8).cast(dterm))
          .as("__sl"))
      .select(col(groupCol), col("n"),
        round(col("__s").cast("double") / col("n").cast("double") / 100.0,
          6).as("mean"),
        round(lit(1.0) -
          exp(col("__sl").cast("double") / col("n").cast("double")) /
            (col("__s").cast("double") / col("n").cast("double")), 6)
          .as("atkinson"))
  }

  /**
   * CATEGORICAL entropy per group — the balance/diversity audit: per
   * group, the Shannon entropy (nats) of its category distribution plus
   * the ln(k)-normalized EVENNESS in [0, 1]. "Is this crawl domain
   * monolingual", "does this user do one thing or many" — the
   * distributional complement of [[gini]]'s concentration-of-mass view
   * (gini weighs a quantity, entropy weighs category membership).
   *
   * Returns (groupCol, n, n_cats, entropy, evenness), 6dp; single-
   * category groups emit entropy 0 and evenness 1 (a one-category
   * distribution is maximally even over its support).
   *
   * Deterministic: category counts are exact integers; each −p·ln(p)
   * term rounds to 8dp and sums through DECIMAL, so partition order
   * can't wiggle the sum (the charEntropy discipline, per group).
   *
   * Scale: one (group, category) aggregate + a group rollup — both
   * partial-aggregating, output group-cardinality sized.
   */
  def categoricalEntropy(df: DataFrame, groupCol: String,
                         catCol: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(20, 8)
    val counts = df.filter(col(catCol).isNotNull)
      .groupBy(col(groupCol), col(catCol).as("__c"))
      .agg(count(lit(1)).as("__k"))
    val withN = counts
      .withColumn("__n", sum(col("__k")).over(
        Window.partitionBy(groupCol)))
    val p = col("__k").cast("double") / col("__n")
    withN
      .select(col(groupCol), col("__n"),
        round(-p * log(p), 8).cast(dec).as("__t"))
      .groupBy(groupCol, "__n")
      .agg(count(lit(1)).as("n_cats"),
        sum(col("__t")).cast("double").as("__h"))
      .select(col(groupCol), col("__n").as("n"), col("n_cats"),
        round(col("__h"), 6).as("entropy"),
        when(col("n_cats") === 1, lit(1.0))
          .otherwise(round(col("__h") /
            log(col("n_cats").cast("double")), 6)).as("evenness"))
  }

  /**
   * DOUBLED fractional (average) rank per distinct value — an exact
   * INTEGER: the average rank of a tied value v is cntLess + (t+1)/2
   * (t = v's multiplicity), so 2·avgRank = 2·cntLess + t + 1 stays
   * integral and every downstream moment can sum exactly. Built from the
   * distinct-value histogram (the [[ksStatistic]] discipline): the corpus
   * streams once into a support-sized aggregate.
   *
   * DISTRIBUTED ranking for numeric supports — no single-task sort at
   * ANY support cardinality: the support is range-bucketed on
   * approximate quantile boundaries of the distinct values (a 1-row
   * broadcast artifact — the corpus histogram feeds it through exchange
   * reuse, no extra scan), the cumulative window runs PER BUCKET
   * (`partitionBy(__bkt)` — each task sorts ~|support|/B values), and
   * per-bucket prefix offsets are recovered from a second window over
   * the ≤B bucket totals (B ≤ 256 rows — a bounded model artifact, the
   * one place an unpartitioned window is sound). cntLess_global =
   * offset(bucket) + cntLess_within, exact regardless of where the
   * approximate boundaries fall — boundary quality only affects
   * BALANCE, never values, so `percentile_approx` nondeterminism
   * cannot wiggle a rank. Bucket count tracks
   * `spark.sql.shuffle.partitions` (clamped [32, 256]): raising it for
   * a big cluster widens the rank stage with it.
   *
   * Non-numeric supports (no quantile boundaries) fall back to the
   * single-bucket form — callers bound those supports by construction
   * (pre-binned grades, day grids).
   */
  private[graft] def doubledRanks(counts: DataFrame, vCol: String,
                                  cCol: String,
                                  probe: Option[DataFrame] = None,
                                  fixedBounds: Option[Array[Double]] = None)
      : DataFrame =
    distributedCumSum(counts, vCol, col(cCol), "__cl",
        includeCurrent = false, probe = probe, fixedBounds = fixedBounds)
      .withColumn("__r2", col("__cl") * 2 + col(cCol) + 1)
      .drop("__cl")

  /**
   * Range-bucket a frame on a NUMERIC order column for distributed
   * order statistics: adds `__bkt` ∈ [0, B), monotone in the requested
   * order (so equal keys always share a bucket and every cross-bucket
   * comparison is decided by the bucket index alone). Boundaries are
   * B−1 approximate quantiles of a 20% SAMPLE of the input, broadcast
   * as one row — sampling and sketch accuracy only move WHERE the
   * boundaries fall (bucket BALANCE), never a downstream order
   * statistic (those are exact per bucket layout), so the cheap
   * estimate is always sound. Values equal to a boundary go to the
   * bucket below; duplicate boundaries just leave buckets empty. B
   * tracks `spark.sql.shuffle.partitions` (clamped [32, 256]): raising
   * it for a big cluster widens the order-statistic stage with it.
   * Non-numeric order columns (no quantile boundaries) fall back to a
   * single bucket — callers bound those supports by construction.
   *
   * Boundary sources, cheapest sound one wins (balance-only, so ANY
   * distribution proxy is correct): `fixedBounds` when the caller knows
   * the key's distribution analytically (e.g. a lattice key uniform on
   * (0,1) — zero probe jobs); `probe` to sample a cheap RAW upstream
   * frame (same-named column) instead of re-evaluating an aggregated
   * `df` just to sketch it — e.g. raw corpus values instead of the
   * distinct-value histogram built from them; else `df` itself.
   */
  private[graft] def withRangeBuckets(df: DataFrame, orderCol: String,
                                      desc: Boolean,
                                      probe: Option[DataFrame] = None,
                                      fixedBounds: Option[Array[Double]] = None,
                                      nBuckets: Option[Int] = None,
                                      sampleFraction: Double = 0.2)
      : DataFrame = {
    val numeric = df.schema(orderCol).dataType
      .isInstanceOf[org.apache.spark.sql.types.NumericType]
    val buckets = nBuckets.getOrElse(math.max(32, math.min(256,
      df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32").toInt)))
    require(buckets >= 1 && buckets <= 1024,
      s"bucket count $buckets outside [1, 1024] (the literal comparison " +
        "chain is codegen-bounded)")
    if (!numeric) df.withColumn("__bkt", lit(0))
    else {
      // bucketing key: double-cast (collapsing near-ties only merges
      // buckets, never reorders), sign-flipped for descending order
      def key(c: Column): Column =
        if (desc) -c.cast("double") else c.cast("double")
      val probs = (1 until buckets).map(_.toDouble / buckets).toArray
      // boundaries COLLECTED (one tiny job over the sample sketch) so
      // bucket assignment compiles to a literal comparison chain inside
      // whole-stage codegen — the array-lambda form (`size(filter(...))`)
      // is CodegenFallback and pays an interpreted eval per row
      val bnds: Array[Double] = fixedBounds.map { fb =>
        val sign = fb.map(b => if (desc) -b else b)
        sign.distinct.sorted
      }.getOrElse {
        val src = probe.getOrElse(df)
        val row = (if (sampleFraction >= 1.0) src
          else src.sample(withReplacement = false, sampleFraction, seed = 42))
          .agg(percentile_approx(key(col(orderCol)),
            lit(probs), lit(1000)).as("__bnds"))
          .head()
        if (row.isNullAt(0)) Array.empty
        else row.getSeq[Any](0).collect {
          case d: java.lang.Double if !d.isNaN => d.doubleValue
        }.distinct.sorted.toArray
      }
      val k = key(col(orderCol))
      val chain = bnds.zipWithIndex.foldRight(lit(bnds.length): Column) {
        case ((b, i), rest) => when(k <= b, lit(i)).otherwise(rest)
      }
      df.withColumn("__bkt", when(k.isNull, lit(0)).otherwise(chain))
    }
  }

  /**
   * DISTRIBUTED cumulative sum — `outCol` = Σ `valueExpr` over all rows
   * at-or-before (`includeCurrent`) / strictly-before the current row
   * in (`orderCol` asc|desc, `tieCols` asc) order, with NO single-task
   * corpus sort at any input width: [[withRangeBuckets]] range-buckets
   * the rows, the cumulative window runs PER BUCKET (each task sorts
   * ~n/B rows), and cross-bucket prefix offsets come from a second
   * window over the ≤B bucket totals (a bounded model artifact — the
   * one place an unpartitioned window is sound) broadcast back on the
   * bucket key. Callers must pre-filter null order keys (a null key
   * would land in the FIRST bucket regardless of direction) and make
   * (orderCol, tieCols) a total order when per-row determinism matters.
   */
  private[graft] def distributedCumSum(df: DataFrame, orderCol: String,
                                       valueExpr: Column, outCol: String,
                                       includeCurrent: Boolean,
                                       desc: Boolean = false,
                                       tieCols: Seq[String] = Nil,
                                       probe: Option[DataFrame] = None,
                                       fixedBounds: Option[Array[Double]] = None)
      : DataFrame =
    distributedCumSums(df, orderCol, Seq((valueExpr, outCol)), includeCurrent,
      desc, tieCols, probe, fixedBounds)

  /** [[distributedCumSum]] for SEVERAL value expressions over ONE shared
    * ordering in a single kernel pass: one bucket assignment, one
    * (multi-column) per-bucket offset aggregate + broadcast, one
    * per-bucket window operator carrying every running sum — callers
    * needing k cumulatives on the same order (e.g. Brunner–Munzel's
    * combined/within-a/within-b ranks) previously chained k full kernel
    * passes (k bucket joins, k offset aggregates, k window exchanges);
    * the fused form pays the kernel exactly once and is row-identical
    * (the extra cumulative columns never feed the bucket layout). */
  private[graft] def distributedCumSums(df: DataFrame, orderCol: String,
                                        values: Seq[(Column, String)],
                                        includeCurrent: Boolean,
                                        desc: Boolean = false,
                                        tieCols: Seq[String] = Nil,
                                        probe: Option[DataFrame] = None,
                                        fixedBounds: Option[Array[Double]] = None)
      : DataFrame = {
    require(values.nonEmpty, "at least one cumulative value required")
    val bucketed = withRangeBuckets(df, orderCol, desc, probe, fixedBounds)
    // unpartitioned window BOUND: ≤B (≤1024) bucket-total rows
    val wBkt = Window.orderBy(col("__bkt").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val totAggs = values.zipWithIndex.map { case ((v, _), i) =>
      sum(v).as(s"__tot$i")
    }
    val offsets = values.indices.foldLeft(
        bucketed.groupBy("__bkt").agg(totAggs.head, totAggs.tail: _*)) {
        (acc, i) => acc.withColumn(s"__off$i",
          coalesce(sum(col(s"__tot$i")).over(wBkt), lit(0L)))
      }
      .select(col("__bkt") +: values.indices.map(i => col(s"__off$i")): _*)
    val ord = (if (desc) col(orderCol).desc else col(orderCol).asc) +:
      tieCols.map(col(_).asc)
    val wLocal = Window.partitionBy("__bkt").orderBy(ord: _*)
      .rowsBetween(Window.unboundedPreceding,
        if (includeCurrent) Window.currentRow else -1)
    values.zipWithIndex.foldLeft(bucketed.join(broadcast(offsets), "__bkt")) {
        case (acc, ((v, out), i)) => acc.withColumn(out,
          col(s"__off$i") + coalesce(sum(v).over(wLocal), lit(0L)))
      }
      .drop("__bkt" +: values.indices.map(i => s"__off$i"): _*)
  }

  /**
   * DISTRIBUTED row_number over (`orderCol` asc|desc, `tieCols` asc) —
   * the global-total-order primitive without the global-window
   * single-task sort (the [[distributedCumSum]] machinery counting
   * 1s). (orderCol, tieCols) must be a total order for the numbering
   * to be deterministic; null order keys must be pre-filtered.
   */
  private[graft] def distributedRowNumber(df: DataFrame, orderCol: String,
                                          desc: Boolean, tieCols: Seq[String],
                                          outCol: String,
                                          probe: Option[DataFrame] = None,
                                          fixedBounds: Option[Array[Double]] = None)
      : DataFrame =
    distributedCumSum(df, orderCol, lit(1L), outCol,
      includeCurrent = true, desc = desc, tieCols = tieCols,
      probe = probe, fixedBounds = fixedBounds)

  /**
   * DISTRIBUTED NTILE(n) over (`orderCol` asc|desc, `tieCol` asc) —
   * exact SQL NTILE semantics (the first n_rows MOD tiles tiles get one
   * extra row) from [[distributedRowNumber]] plus a 1-row count
   * broadcast: tile = f(row_number, n). Row-identical to
   * `ntile(tiles).over(Window.orderBy(...))` at any width, with no
   * single-task corpus sort.
   */
  def distributedNtile(df: DataFrame, tiles: Int, orderCol: String,
                       desc: Boolean, tieCol: String,
                       outCol: String): DataFrame =
    distributedNtiles(df, tiles, Seq((orderCol, desc, tieCol, outCol)))

  /**
   * [[distributedNtile]] for SEVERAL orderings of the same frame in one
   * shot (the RFM shape: three quintile scores over one per-customer
   * aggregate). Two bounded driver-side model artifacts — the sampled
   * quantile boundaries for every ordering (one job) and the EXACT
   * per-bucket row counts for every ordering (one job, ≤ specs·B
   * conditional sums) — turn each tile into pure literal arithmetic on
   * (bucket prefix offset + within-bucket row_number): the main plan is
   * a LINEAR window chain (one range-bucketed sort per ordering, the
   * minimum any multi-order ranking pays), no joins, no branch
   * re-evaluation, no single-task sort.
   *
   * Each spec is (orderCol ASC|DESC, tieCol ASC → outCol); (orderCol,
   * tieCol) must be a total order and order keys must be non-null.
   */
  def distributedNtiles(df: DataFrame, tiles: Int,
      specs: Seq[(String, Boolean, String, String)]): DataFrame = {
    require(tiles >= 1, s"tiles must be >= 1, got $tiles")
    require(specs.nonEmpty, "at least one ntile spec required")
    val buckets = math.max(32, math.min(256,
      df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32").toInt))
    def key(c: String, desc: Boolean): Column =
      if (desc) -col(c).cast("double") else col(c).cast("double")
    // artifact 1: sampled quantile boundaries per ordering (balance-only
    // — see withRangeBuckets)
    val probs = (1 until buckets).map(_.toDouble / buckets).toArray
    val sketch = df.sample(withReplacement = false, 0.2, seed = 42)
      .agg(count(lit(1)).as("__cnt"),
        specs.zipWithIndex.map { case ((c, desc, _, _), i) =>
          percentile_approx(key(c, desc), lit(probs), lit(1000))
            .as(s"__b$i")
        }: _*)
      .head()
    val bndsPer: Seq[Array[Double]] = specs.indices.map { i =>
      if (sketch.isNullAt(i + 1)) Array.empty[Double]
      else sketch.getSeq[Any](i + 1).collect {
        case d: java.lang.Double if !d.isNaN => d.doubleValue
      }.distinct.sorted.toArray
    }
    def bucketOf(i: Int): Column = {
      val (c, desc, _, _) = specs(i)
      val k = key(c, desc)
      val chain = bndsPer(i).zipWithIndex
        .foldRight(lit(bndsPer(i).length): Column) {
          case ((b, j), rest) => when(k <= b, lit(j)).otherwise(rest)
        }
      when(k.isNull, lit(0)).otherwise(chain)
    }
    // artifact 2: EXACT per-(ordering, bucket) row counts in one pass —
    // prefix offsets and n become Scala literals. Shaped as ONE bucket
    // projection + explode + groupBy (≤ specs·B result rows collected),
    // NOT specs·B conditional aggregates: the wide-agg form compiles
    // thousands of codegen branches and its compile time alone dwarfs
    // the job
    val cnts = df
      .select(specs.indices.map(i => bucketOf(i).as(s"__bkt$i")): _*)
      .select(explode(array(specs.indices.map(i =>
        struct(lit(i).as("i"), col(s"__bkt$i").as("b"))): _*)).as("x"))
      .groupBy(col("x.i").as("i"), col("x.b").as("b"))
      .agg(count(lit(1)).as("c"))
      .collect()
      .map(r => ((r.getInt(0), r.getInt(1)), r.getLong(2))).toMap
    val n: Long = (0 to bndsPer.head.length)
      .map(b => cnts.getOrElse((0, b), 0L)).sum
    val offsetsPer: Seq[Array[Long]] = specs.indices.map { i =>
      val cs = (0 to bndsPer(i).length).map(b => cnts.getOrElse((i, b), 0L))
      cs.scanLeft(0L)(_ + _).dropRight(1).toArray
    }
    // exact NTILE arithmetic on literals: first (n mod tiles) tiles get
    // size+1 rows
    val size = n / tiles
    val rem = n % tiles
    def tileOf(rn: Column): Column =
      if (size == 0L) least(rn, lit(tiles.toLong))
      else when(rn <= rem * (size + 1),
        floor((rn - 1) / (size + 1)).cast("long") + 1)
        .otherwise(lit(rem) +
          floor((rn - rem * (size + 1) - 1) / size).cast("long") + 1)
    specs.indices.foldLeft(df) { (acc, i) =>
      val (c, desc, tie, out) = specs(i)
      val ord = Seq(if (desc) col(c).desc else col(c).asc, col(tie).asc)
      val offChain = offsetsPer(i).zipWithIndex
        .foldRight(lit(0L): Column) {
          case ((off, b), rest) =>
            when(col(s"__bkt$i") === b, lit(off)).otherwise(rest)
        }
      acc.withColumn(s"__bkt$i", bucketOf(i))
        .withColumn(out, tileOf(offChain +
          row_number().over(Window.partitionBy(col(s"__bkt$i"))
            .orderBy(ord: _*)).cast("long")))
        .drop(s"__bkt$i")
    }
  }

  /**
   * SPEARMAN rank correlation between two numeric columns — "do these
   * move together monotonically", robust to outliers and any monotone
   * rescaling (the right correlation for heavy-tailed quality scores,
   * token counts, prices). Ties get fractional average ranks (the
   * standard tie treatment). Emits one row (n, rho), rho 8dp; a constant
   * column (zero rank variance) emits rho NULL rather than NaN.
   *
   * Deterministic BY CONSTRUCTION, not by rounding: doubled ranks are
   * exact integers, so all five moments (Σx, Σy, Σx², Σy², Σxy) sum
   * exactly in DECIMAL(38,0) — partition order cannot wiggle them; the
   * single double division happens once on the final row. Exact while
   * n·Σx² = 4n⁴ fits DECIMAL(38): n ≲ 1.5e9 non-null rows — beyond
   * that, pre-bin values (the KS convention) to shrink rank magnitudes.
   *
   * Scale: one support-sized histogram per column ranked DISTRIBUTED
   * (range-bucketed on quantile boundaries, per-bucket windows — see
   * [[doubledRanks]]; no single-task sort even on a raw continuous
   * column whose support approaches corpus cardinality), two rank-map
   * joins back to the rows, one partial+final aggregate. No corpus-wide
   * sort at any support width. (An (x, y) cell-grid form — aggregate
   * once, weight the moments by cell count — was measured in r16: the
   * grid is only ~0.75× corpus rows on this data shape, so its extra
   * corpus-wide exchange cost more than the grid-sized joins saved at
   * every scale where the supports stay broadcastable; reverted.)
   */
  def spearmanCorr(df: DataFrame, xCol: String, yCol: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(19, 0)
    val base = df.select(col(xCol).as("__x"), col(yCol).as("__y"))
      .filter(col("__x").isNotNull && col("__y").isNotNull)
    // ONE boundary-sketch job covers BOTH rank maps (balance-only — the
    // distributedNtiles economics): per-rank-map probes would each
    // re-scan the raw input just to sketch quantiles
    val buckets = math.max(32, math.min(256,
      df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32").toInt))
    val probs = (1 until buckets).map(_.toDouble / buckets).toArray
    val sketch = base.sample(withReplacement = false, 0.2, seed = 42)
      .agg(percentile_approx(col("__x").cast("double"), lit(probs), lit(1000))
        .as("__bx"),
        percentile_approx(col("__y").cast("double"), lit(probs), lit(1000))
          .as("__by"))
      .head()
    def boundsOf(i: Int): Array[Double] =
      if (sketch.isNullAt(i)) Array.empty
      else sketch.getSeq[Any](i).collect {
        case d: java.lang.Double if !d.isNaN => d.doubleValue
      }.toArray
    def rankMap(c: String, out: String, bnds: Array[Double]) =
      doubledRanks(
        base.groupBy(col(c).as(c)).agg(count(lit(1)).as("__c")), c, "__c",
        fixedBounds = Some(bnds))
        .select(col(c), col("__r2").as(out))
    val joined = base
      .join(rankMap("__x", "__rx", boundsOf(0)), "__x")
      .join(rankMap("__y", "__ry", boundsOf(1)), "__y")
    val rx = col("__rx").cast(dec); val ry = col("__ry").cast(dec)
    val m = joined.agg(count(lit(1)).as("n"),
      sum(rx).as("sx"), sum(ry).as("sy"),
      sum(rx * rx).as("sxx"), sum(ry * ry).as("syy"),
      sum(rx * ry).as("sxy"))
    val nD = col("n").cast(dec)
    val dx = nD * col("sxx") - col("sx") * col("sx")
    val dy = nD * col("syy") - col("sy") * col("sy")
    val num = nD * col("sxy") - col("sx") * col("sy")
    m.select(col("n"),
      when(dx > 0 && dy > 0,
        round(num.cast("double") /
          sqrt(dx.cast("double") * dy.cast("double")), 8))
        .otherwise(lit(null).cast("double")).as("rho"))
  }

  /**
   * MANN–WHITNEY U rank-sum test — "does one slice stochastically
   * dominate the other", the nonparametric two-sample location test
   * (where [[ksStatistic]] asks about the whole distribution shape, U
   * asks specifically about shift). Fractional ranks over the COMBINED
   * sample; emits one row (n_a, n_b, u_a, u_b, z) with the tie-corrected
   * normal approximation z (8dp) — the caller compares |z| to 1.96.
   * U_a + U_b = n_a·n_b always (the classic identity). Empty samples
   * emit no row; an all-tied sample (zero variance) emits z NULL.
   *
   * Deterministic by construction: doubled ranks and tie terms are exact
   * integers summed in DECIMAL; the one double expression (z) runs on the
   * final single row.
   *
   * Scale: one support-sized histogram + one cumulative window over the
   * sorted distinct support + a one-row reduce. Pre-bin unbounded
   * continuous values (the KS convention).
   */
  def mannWhitneyU(df: DataFrame, valueCol: String, groupCol: String,
                   groupA: String, groupB: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val kept = df
      .filter(col(groupCol) === groupA || col(groupCol) === groupB)
      .filter(col(valueCol).isNotNull)
    val counts = kept
      .groupBy(col(valueCol).as("__v"))
      .agg(sum(when(col(groupCol) === groupA, 1L).otherwise(0L)).as("ca"),
        sum(when(col(groupCol) === groupB, 1L).otherwise(0L)).as("cb"))
      .withColumn("__t", col("ca") + col("cb"))
    val ranked = doubledRanks(counts, "__v", "__t",
      probe = Some(kept.select(col(valueCol).as("__v"))))
    val m = ranked.agg(
      sum(col("ca")).as("na"), sum(col("cb")).as("nb"),
      // 2·R_A = Σ_v ca_v · r2_v — exact; and the tie-correction mass
      // Σ (t³ − t), also exact in decimal
      sum(col("ca").cast(dec) * col("__r2").cast(dec)).as("ra2"),
      sum(col("__t").cast(dec) * col("__t").cast(dec) *
        col("__t").cast(dec) - col("__t").cast(dec)).as("ties"))
    val na = col("na"); val nb = col("nb")
    val n = na + nb
    // 2·U_A = 2·R_A − n_a(n_a+1): still exact-integer in decimal
    val ua2 = col("ra2") - (na.cast(dec) * (na + 1).cast(dec))
    val ub2 = (na.cast(dec) * nb.cast(dec)) * 2 - ua2
    val uaD = ua2.cast("double") / 2.0
    // tie-corrected variance of U: n_a·n_b/12 · ((n+1) − Σ(t³−t)/(n(n−1)))
    val varU = na.cast("double") * nb.cast("double") / 12.0 *
      ((n + 1).cast("double") -
        col("ties").cast("double") / (n.cast("double") * (n - 1).cast("double")))
    m.filter(na > 0 && nb > 0)
      .select(na.as("n_a"), nb.as("n_b"),
        uaD.as("u_a"), (ub2.cast("double") / 2.0).as("u_b"),
        when(varU > 0,
          round((uaD - na.cast("double") * nb.cast("double") / 2.0) /
            sqrt(varU), 8))
          .otherwise(lit(null).cast("double")).as("z"))
  }

  /**
   * WILCOXON SIGNED-RANK test — the PAIRED two-sample location test
   * [[mannWhitneyU]] is not: "did the metric shift within subjects",
   * for (a, b) observed on the same unit (same user before/after, same
   * doc under two scorers). Differences d = a − b in exact integer
   * cents; zero differences are dropped (the Wilcoxon convention),
   * |d| gets fractional ranks over the combined nonzero sample, and
   * W+ = Σ ranks of positive d. Emits one row (n_pairs, w_plus, z)
   * with the tie-corrected normal approximation
   * z = (W+ − n(n+1)/4)/√(n(n+1)(2n+1)/24 − Σ(t³−t)/48), 6dp; no
   * nonzero pairs emit no row, zero variance emits z NULL.
   *
   * Deterministic by construction: doubled ranks and tie terms are
   * exact integers summed in DECIMAL (w_plus has exact 0.5
   * granularity); the one double expression (z) runs on the final row.
   *
   * Scale: one support-sized |d| histogram + the distributed rank
   * kernel's cumulative pass + a one-row reduce — the mannWhitneyU
   * shape on the difference support, no single-task sort anywhere.
   */
  def wilcoxonSignedRank(df: DataFrame, aCol: String, bCol: String)
      : DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val d = cents(col(aCol)) - cents(col(bCol))
    val pairs = df.select(d.as("__d"))
      .filter(col("__d").isNotNull && col("__d") =!= 0)
    val hist = pairs.groupBy(abs(col("__d")).as("__v"))
      .agg(count(lit(1)).as("__t"),
        sum(when(col("__d") > 0, 1L).otherwise(0L)).as("__pos"))
    val ranked = doubledRanks(hist, "__v", "__t",
      probe = Some(pairs.select(abs(col("__d")).as("__v"))))
    val m = ranked.agg(
      sum(col("__t")).as("n"),
      // 2·W+ = Σ_v pos_v · r2_v — exact; and the tie mass Σ(t³−t)
      sum(col("__pos").cast(dec) * col("__r2").cast(dec)).as("w2"),
      sum(col("__t").cast(dec) * col("__t").cast(dec) *
        col("__t").cast(dec) - col("__t").cast(dec)).as("ties"))
    val nD = col("n").cast("double")
    val wPlus = col("w2").cast("double") / 2.0
    val varW = nD * (nD + 1.0) * (nD * 2.0 + 1.0) / 24.0 -
      col("ties").cast("double") / 48.0
    m.filter(col("n") > 0)
      .select(col("n").as("n_pairs"),
        round(wPlus, 1).as("w_plus"),
        when(varW > 0,
          round((wPlus - nD * (nD + 1.0) / 4.0) / sqrt(varW), 6))
          .otherwise(lit(null).cast("double")).as("z"))
  }

  /**
   * PAIRED t-TEST — the parametric member of the paired family beside
   * [[wilcoxonSignedRank]] (rank) and [[signTest]] (median): a
   * one-sample t on the within-pair differences d = a − b. Emits one
   * row (n_pairs, mean_diff, t_stat, df): mean_diff in original value
   * units (6dp), t = d̄/√(s²/n) with the unbiased s² (6dp), df = n−1.
   * Null-sided pairs drop; n < 2 or zero variance emits NULL t.
   *
   * Deterministic: n, Σd, Σd² are exact integer cents in DECIMAL; the
   * variance identity nΣd²−(Σd)² stays in the overflow-safe quadratic
   * class (≤ 2×digits(Σd) — fine to ~10¹² rows, SCALE.md §9.1); one
   * pinned double chain on the final row.
   *
   * Scale: one partial-aggregating pass to one row — the reconcile
   * shape.
   */
  def pairedTTest(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val d = cents(col(aCol)) - cents(col(bCol))
    val m = df.select(d.as("__d")).filter(col("__d").isNotNull)
      .agg(count(lit(1)).as("n"),
        sum(col("__d").cast(dec)).as("s1"),
        sum(col("__d").cast(dec) * col("__d").cast(dec)).as("s2"))
    val nD = col("n").cast("double")
    val meanCents = col("s1").cast("double") / nD
    // nΣd²−(Σd)² exact in decimal, then the double chain
    val varNum = (col("n").cast(dec) * col("s2") -
      col("s1") * col("s1")).cast("double")
    val s2 = varNum / (nD * (nD - 1.0))
    val t = meanCents / sqrt(s2 / nD)
    m.filter(col("n") > 0)
      .select(col("n").as("n_pairs"),
        round(meanCents / 100.0, 6).as("mean_diff"),
        when(col("n") > 1 && varNum > 0, round(t, 6))
          .otherwise(lit(null).cast("double")).as("t_stat"),
        (col("n") - 1).as("df"))
  }

  /**
   * SIGN TEST — the assumption-free member of the paired family: only
   * the SIGN of each within-pair difference counts, so it survives
   * wild asymmetry and outliers that bend [[pairedTTest]] and (less
   * so) [[wilcoxonSignedRank]]. Zero differences drop (the standard
   * convention); emits one row (n_pairs, n_pos, z) with the normal
   * approximation z = (2·B − n)/√n (6dp); no nonzero pairs emit no
   * row.
   *
   * Deterministic trivially: two exact counts and one double
   * expression on the final row.
   *
   * Scale: one counting pass to one row.
   */
  def signTest(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    val d = cents(col(aCol)) - cents(col(bCol))
    val m = df.select(d.as("__d"))
      .filter(col("__d").isNotNull && col("__d") =!= 0)
      .agg(count(lit(1)).as("n"),
        sum(when(col("__d") > 0, 1L).otherwise(0L)).as("n_pos"))
    m.filter(col("n") > 0)
      .select(col("n").as("n_pairs"), col("n_pos"),
        round((col("n_pos").cast("double") * 2.0 -
          col("n").cast("double")) / sqrt(col("n").cast("double")), 6)
          .as("z"))
  }

  /**
   * BRUNNER–MUNZEL test — the heteroscedastic Mann–Whitney: tests
   * P(X < Y) + ½P(X = Y) = ½ WITHOUT the equal-variance/equal-shape
   * assumption [[mannWhitneyU]] inherits (under unequal spreads MWU's
   * size is wrong; BM is the modern default recommendation for the
   * two-sample rank problem). Estimates p̂ = (R̄_b − (n_b+1)/2)/n_a
   * from overall mid-ranks, with per-group variances built from the
   * overall-minus-within-group rank deviations and a Welch–
   * Satterthwaite df. Emits one row (n_a, n_b, p_hat, w_stat, df),
   * 6dp; an arm with < 2 rows or zero rank variance emits NULL w/df.
   *
   * Deterministic: all three rank maps (pooled, within-a, within-b)
   * are exact doubled integers off the distributed rank kernel with
   * ONE shared boundary probe; per-value deviation terms round 4dp
   * into decimal sums; the final row is one pinned double chain.
   *
   * Scale: one support-sized histogram + three kernel cumulative
   * passes over it + a one-row reduce. Pre-bin unbounded continuous
   * values (the KS convention).
   */
  def brunnerMunzel(df: DataFrame, valueCol: String, groupCol: String,
                    groupA: String, groupB: String): DataFrame = {
    val dterm = org.apache.spark.sql.types.DecimalType(38, 4)
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val kept = df
      .filter(col(groupCol) === groupA || col(groupCol) === groupB)
      .filter(col(valueCol).isNotNull)
      .select(col(valueCol).cast("double").as("__v"),
        (col(groupCol) === groupA).as("__a"))
    val hist = kept.groupBy("__v").agg(
      sum(when(col("__a"), 1L).otherwise(0L)).as("ca"),
      sum(when(!col("__a"), 1L).otherwise(0L)).as("cb"))
    // one boundary probe shared by the three rank maps (balance-only)
    val buckets = math.max(32, math.min(256,
      df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32").toInt))
    val probs = (1 until buckets).map(_.toDouble / buckets).toArray
    val sk = kept.sample(withReplacement = false, 0.2, seed = 42)
      .agg(percentile_approx(col("__v"), lit(probs), lit(1000)).as("__b"))
      .head()
    val bnds: Array[Double] =
      if (sk.isNullAt(0)) Array.empty
      else sk.getSeq[Any](0).collect {
        case d: java.lang.Double if !d.isNaN => d.doubleValue
      }.toArray
    // all three cumulatives (combined, within-b, within-a) ride ONE
    // kernel pass — same bucket layout, same per-bucket window
    val ranked = distributedCumSums(
        hist.withColumn("__t", col("ca") + col("cb")), "__v",
        Seq((col("__t"), "__cl"), (col("cb"), "__clb"),
          (col("ca"), "__cla")),
        includeCurrent = false, fixedBounds = Some(bnds))
      .withColumn("__r2", col("__cl") * 2 + col("__t") + 1)
      .withColumn("__r2a", col("__cla") * 2 + col("ca") + 1)
      .withColumn("__r2b", col("__clb") * 2 + col("cb") + 1)
    val tot = ranked.agg(sum(col("ca")).as("na"), sum(col("cb")).as("nb"),
      sum(col("ca").cast(dec) * col("__r2").cast(dec)).as("sra"),
      sum(col("cb").cast(dec) * col("__r2").cast(dec)).as("srb"))
    // per-value doubled deviations D2 = r2 − r2_within − 2R̄ + (n+1);
    // variance terms c·D2² rounded 4dp into decimal sums
    val withM = ranked.crossJoin(broadcast(tot))
      .withColumn("__m2a", col("sra").cast("double") / col("na"))
      .withColumn("__m2b", col("srb").cast("double") / col("nb"))
    val d2a = col("__r2") - col("__r2a") - col("__m2a") + (col("na") + 1)
    val d2b = col("__r2") - col("__r2b") - col("__m2b") + (col("nb") + 1)
    val m = withM
      .select(col("na"), col("nb"), col("__m2a"), col("__m2b"),
        round(col("ca") * d2a * d2a, 4).cast(dterm).as("__va"),
        round(col("cb") * d2b * d2b, 4).cast(dterm).as("__vb"))
      .groupBy("na", "nb", "__m2a", "__m2b")
      .agg(sum(col("__va")).as("__sva"), sum(col("__vb")).as("__svb"))
    val naD = col("na").cast("double"); val nbD = col("nb").cast("double")
    val nD = naD + nbD
    // S² = Σc·D2²/(4(n−1)); the canonical combination n_a·S_a² + n_b·S_b²
    val sa2 = col("__sva").cast("double") / (lit(4.0) * (naD - 1.0))
    val sb2 = col("__svb").cast("double") / (lit(4.0) * (nbD - 1.0))
    val ua = naD * sa2
    val ub = nbD * sb2
    val pHat = (col("__m2b") - (nbD + 1.0)) / (lit(2.0) * naD)
    val w = naD * nbD * ((col("__m2b") - col("__m2a")) / lit(2.0)) /
      (nD * sqrt(ua + ub))
    val dfW = (ua + ub) * (ua + ub) /
      (ua * ua / (naD - 1.0) + ub * ub / (nbD - 1.0))
    val ok = col("na") >= 2L && col("nb") >= 2L && (ua + ub) > 0
    m.filter(col("na") > 0 && col("nb") > 0)
      .select(col("na").as("n_a"), col("nb").as("n_b"),
        round(pHat, 6).as("p_hat"),
        when(ok, round(w, 6)).otherwise(lit(null).cast("double"))
          .as("w_stat"),
        when(ok, round(dfW, 6)).otherwise(lit(null).cast("double"))
          .as("df"))
  }

  /**
   * MUTUAL INFORMATION (nats) between two categorical columns — "how many
   * nats does knowing a tell you about b": the magnitude companion to
   * [[chiSquareIndependence]]'s significance test, and the standard
   * feature-vs-label dependence score when picking stratification keys.
   * Only OBSERVED cells contribute (0·ln 0 = 0 — empty cells add nothing,
   * unlike chi²'s (0−e)²/e). NULL in either column excludes the row (a
   * null is an absent observation, not a category — the chi² contract).
   * Emits one row (n, n_cells, mi), mi 6dp clamped at 0 (per-term 8dp
   * rounding could otherwise leak a −0.000001 on exact independence,
   * and −0.0 vs 0.0 is a cross-engine hash break).
   *
   * Deterministic: counts exact; each (o/n)·ln(o·n/(ra·rb)) term rounds
   * to 8dp and sums through DECIMAL.
   *
   * Scale: identical shape to chi² — one cell aggregate + two marginal
   * rollups + a one-row total; the corpus streams once.
   */
  def mutualInformation(df: DataFrame, aCol: String,
                        bCol: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(20, 8)
    val obs = df
      .filter(col(aCol).isNotNull && col(bCol).isNotNull)
      .groupBy(col(aCol).as("__a"), col(bCol).as("__b"))
      .agg(count(lit(1)).as("o"))
    val ra = obs.groupBy("__a").agg(sum(col("o")).as("ra"))
    val rb = obs.groupBy("__b").agg(sum(col("o")).as("rb"))
    val tot = obs.agg(sum(col("o")).as("n"))
    val p = col("o").cast("double") / col("n")
    val term = p * log(col("o").cast("double") * col("n") /
      (col("ra").cast("double") * col("rb")))
    obs.join(ra, "__a").join(rb, "__b").crossJoin(broadcast(tot))
      .select(col("n"), round(term, 8).cast(dec).as("__t"))
      .groupBy("n")
      .agg(count(lit(1)).as("n_cells"),
        greatest(round(sum(col("__t")).cast("double"), 6), lit(0.0)).as("mi"))
      .select(col("n"), col("n_cells"), col("mi"))
  }

  /**
   * Per-group ORDINARY LEAST SQUARES trend — slope/intercept/r² of
   * `yCol` (money-scale, quantized to exact cents) against `xCol`
   * (integral: epoch seconds, day numbers, sequence indices): "is this
   * segment's revenue growing and how fast", the dashboard trendline as
   * a single aggregate instead of a fitted model. Emits (group, n,
   * slope, intercept, r2); slope/intercept in original y units per x
   * unit, 8dp; a single point or zero x-variance emits NULL fit columns.
   *
   * Deterministic by construction (the [[spearmanCorr]] discipline): x
   * and y-cents are exact integers, all five moments sum in
   * DECIMAL(38,0), and the per-group double arithmetic runs once on the
   * aggregated row. Dirty y values (NaN, |y| > 1e13) drop their row —
   * the [[cents]] contract.
   *
   * Scale: one partial+final aggregate, output |groups| rows; the
   * corpus streams once, no sort, no window.
   */
  def olsTrend(df: DataFrame, groupCol: String, xCol: String,
               yCol: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val base = df
      .select(col(groupCol), col(xCol).cast("long").as("__x"),
        cents(col(yCol)).as("__y"))
      .filter(col("__x").isNotNull && col("__y").isNotNull)
    val x = col("__x").cast(dec); val y = col("__y").cast(dec)
    val m = base.groupBy(groupCol).agg(count(lit(1)).as("n"),
      sum(x).as("sx"), sum(y).as("sy"),
      sum(x * x).as("sxx"), sum(y * y).as("syy"), sum(x * y).as("sxy"))
    val nD = col("n").cast(dec)
    val dx = nD * col("sxx") - col("sx") * col("sx")
    val dy = nD * col("syy") - col("sy") * col("sy")
    val num = nD * col("sxy") - col("sx") * col("sy")
    // slope in cents-per-x, then /100 back to y units; intercept
    // likewise: (Σy − slope·Σx)/n computed in double on the final row
    val slopeC = num.cast("double") / dx.cast("double")
    m.select(col(groupCol), col("n"),
      when(dx > 0, round(slopeC / 100.0, 8))
        .otherwise(lit(null).cast("double")).as("slope"),
      when(dx > 0,
        round((col("sy").cast("double") - slopeC * col("sx").cast("double")) /
          col("n").cast("double") / 100.0, 8))
        .otherwise(lit(null).cast("double")).as("intercept"),
      when(dx > 0 && dy > 0,
        round(num.cast("double") * num.cast("double") /
          (dx.cast("double") * dy.cast("double")), 8))
        .otherwise(lit(null).cast("double")).as("r2"))
  }

  /**
   * LORENZ CURVE at a decile grid — [[gini]]'s curve view: for each
   * grid point p, the share of total value held by the bottom
   * ⌊p·N⌋ rows when sorted ascending by value. The "bottom 50% of
   * customers hold 9% of the balance" table a concentration dashboard
   * plots; gini is twice the area between this curve and the diagonal.
   * Emits (decile, pop_share, value_share), 6dp, ordered; negative
   * values are accepted (the curve can dip below zero — standard for
   * net-balance data).
   *
   * Deterministic BY CONSTRUCTION: built from the distinct-cent-value
   * histogram — bottom-k mass = cumValue(v⁻) + (k − cumCount(v⁻))·v is
   * exact integer arithmetic, and k = ⌊p·N⌋ is exact — so ROW-level tie
   * order never matters (a row-ranked ntile would make decile
   * membership of tied values partition-dependent).
   *
   * Scale: one support-sized histogram + a cumulative window over the
   * sorted distinct support (the [[ksStatistic]] discipline) + a
   * |grid|-row range probe (grid broadcasts).
   */
  def lorenzCurve(df: DataFrame, valueCol: String,
                  buckets: Int = 10): DataFrame = {
    // unpartitioned window BOUND: distinct-cent histogram rows (value-range-bounded)
    require(buckets > 0, s"bad buckets=$buckets")
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val counts = df
      .select(cents(col(valueCol)).as("__v"))
      .filter(col("__v").isNotNull)
      .groupBy(col("__v")).agg(count(lit(1)).as("__c"))
    val wPrev = Window.orderBy(col("__v").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val cum = counts
      .withColumn("__ccPrev", coalesce(sum(col("__c")).over(wPrev), lit(0L)))
      .withColumn("__cvPrev",
        coalesce(sum(col("__c").cast(dec) * col("__v").cast(dec)).over(wPrev),
          lit(0).cast(dec)))
    val tot = counts.agg(sum(col("__c")).as("__n"),
      sum(col("__c").cast(dec) * col("__v").cast(dec)).as("__tv"))
    val spark = df.sparkSession
    import spark.implicits._
    val grid = (1 to buckets).map(_.toLong).toDF("decile")
    // ⌊p·N⌋ in exact INTEGER division (a double path would wobble past
    // 2^53); deciles whose k is 0 (N < buckets) emit no row
    val k = expr(s"(decile * __n) div $buckets")
    cum.crossJoin(broadcast(tot)).crossJoin(broadcast(grid))
      // the row whose cumulative count block CONTAINS k: bottom-k mass
      // interpolates inside one tied-value block with exact integers
      .filter(col("__ccPrev") < k && k <= col("__ccPrev") + col("__c"))
      .select(col("decile"),
        round(k.cast("double") / col("__n").cast("double"), 6)
          .as("pop_share"),
        when(col("__tv") === 0, lit(null).cast("double"))
          .otherwise(round(
            (col("__cvPrev") + (k - col("__ccPrev")).cast(dec) *
              col("__v").cast(dec)).cast("double") /
              col("__tv").cast("double"), 6)).as("value_share"))
      .orderBy("decile")
  }

  /**
   * ODDS RATIO for a 2×2 exposure/outcome table — the epidemiology/
   * experimentation effect measure: OR = (a·d)/(b·c) with the Woolf
   * log-scale 95% interval exp(ln OR ± 1.96·√(1/a+1/b+1/c+1/d)), the
   * standard CI for a 2×2. Also emits the relative risk
   * (a/(a+b))/(c/(c+d)) — the measure people usually MEAN when they say
   * odds ratio. Both boolean columns; NULLs excluded (the chi²
   * contract). Emits one row (a, b, c, d, odds_ratio, or_lo, or_hi,
   * relative_risk), ratios 6dp; any empty cell makes the ratio columns
   * NULL (division by zero has no estimate — the caller adds the
   * Haldane 0.5 upstream if they want one).
   *
   * Deterministic: four exact cell counts; fixed-order double
   * expressions on the single output row.
   *
   * Scale: ONE aggregation pass — four conditional sums.
   */
  def oddsRatio(df: DataFrame, exposedCol: String,
                outcomeCol: String): DataFrame = {
    val base = df.filter(col(exposedCol).isNotNull && col(outcomeCol).isNotNull)
    val cells = base.agg(
      sum(when(col(exposedCol) && col(outcomeCol), 1L).otherwise(0L)).as("a"),
      sum(when(col(exposedCol) && !col(outcomeCol), 1L).otherwise(0L)).as("b"),
      sum(when(!col(exposedCol) && col(outcomeCol), 1L).otherwise(0L)).as("c"),
      sum(when(!col(exposedCol) && !col(outcomeCol), 1L).otherwise(0L)).as("d"))
    val ok = col("a") > 0 && col("b") > 0 && col("c") > 0 && col("d") > 0
    val orr = col("a").cast("double") * col("d") /
      (col("b").cast("double") * col("c"))
    val se = sqrt(lit(1.0) / col("a") + lit(1.0) / col("b") +
      lit(1.0) / col("c") + lit(1.0) / col("d"))
    val rr = (col("a").cast("double") / (col("a") + col("b"))) /
      (col("c").cast("double") / (col("c") + col("d")))
    cells.select(col("a"), col("b"), col("c"), col("d"),
      when(ok, round(orr, 6)).otherwise(lit(null).cast("double"))
        .as("odds_ratio"),
      when(ok, round(exp(log(orr) - lit(1.96) * se), 6))
        .otherwise(lit(null).cast("double")).as("or_lo"),
      when(ok, round(exp(log(orr) + lit(1.96) * se), 6))
        .otherwise(lit(null).cast("double")).as("or_hi"),
      when(ok, round(rr, 6)).otherwise(lit(null).cast("double"))
        .as("relative_risk"))
  }

  /**
   * MANTEL–HAENSZEL pooled odds ratio — the stratified 2×2 readout:
   * one odds ratio ACROSS strata, each stratum contributing by its own
   * size, immune to the Simpson's inversion a pooled-table
   * `oddsRatio` walks into when exposure and outcome both vary by
   * stratum. OR_MH = Σᵢ aᵢdᵢ/nᵢ / Σᵢ bᵢcᵢ/nᵢ, with the
   * Robins–Breslow–Greenland variance for the CI (valid under both
   * sparse-strata and large-strata asymptotics — the reason it
   * displaced the Woolf weights). Also emits VanderWeele's E-VALUE —
   * the minimum strength of unmeasured confounding (on the risk-ratio
   * scale) that could explain the association away: the one-number
   * sensitivity analysis every observational readout should ship with.
   * Emits one row (n_strata, or_mh, or_lo, or_hi, e_value), 6dp;
   * zero-mass denominators emit NULLs.
   *
   * Deterministic: per-stratum cell counts exact; the P/Q/R/S terms
   * are divisions of exact integers rounded 8dp into decimal sums; the
   * final OR/CI/E chain is pinned doubles on one row.
   *
   * Scale: one conditional-aggregation pass to |strata| rows + a
   * strata-row reduce — the welch shape per stratum.
   */
  def mantelHaenszelOr(df: DataFrame, stratumCol: String, exposedCol: String,
                       outcomeCol: String): DataFrame = {
    val dterm = org.apache.spark.sql.types.DecimalType(24, 8)
    val base = df.select(col(stratumCol).as("__s"),
        col(exposedCol).cast("boolean").as("__e"),
        col(outcomeCol).cast("boolean").as("__o"))
      .filter(col("__s").isNotNull && col("__e").isNotNull &&
        col("__o").isNotNull)
    val cells = base.groupBy("__s").agg(
      sum(when(col("__e") && col("__o"), 1L).otherwise(0L)).as("a"),
      sum(when(col("__e") && !col("__o"), 1L).otherwise(0L)).as("b"),
      sum(when(!col("__e") && col("__o"), 1L).otherwise(0L)).as("c"),
      sum(when(!col("__e") && !col("__o"), 1L).otherwise(0L)).as("d"))
    val n = (col("a") + col("b") + col("c") + col("d")).cast("double")
    def t8(c: Column) = round(c, 8).cast(dterm)
    val terms = cells.select(
      t8(col("a").cast("double") * col("d") / n).as("__r"),
      t8(col("b").cast("double") * col("c") / n).as("__sS"),
      t8((col("a").cast("double") * col("d") / n) *
        ((col("a") + col("d")).cast("double") / n)).as("__pr"),
      t8((col("a").cast("double") * col("d") / n) *
        ((col("b") + col("c")).cast("double") / n) +
        (col("b").cast("double") * col("c") / n) *
          ((col("a") + col("d")).cast("double") / n)).as("__psqr"),
      t8((col("b").cast("double") * col("c") / n) *
        ((col("b") + col("c")).cast("double") / n)).as("__qs"))
    val m = terms.agg(count(lit(1)).as("n_strata"),
      sum(col("__r")).as("sr"), sum(col("__sS")).as("ss"),
      sum(col("__pr")).as("spr"), sum(col("__psqr")).as("spsqr"),
      sum(col("__qs")).as("sqs"))
    val srD = col("sr").cast("double"); val ssD = col("ss").cast("double")
    val orMh = srD / ssD
    val varLn = col("spr").cast("double") / (lit(2.0) * srD * srD) +
      col("spsqr").cast("double") / (lit(2.0) * srD * ssD) +
      col("sqs").cast("double") / (lit(2.0) * ssD * ssD)
    val ok = srD > 0 && ssD > 0
    val seLn = sqrt(varLn)
    // E-value on the OR treated as a risk ratio (rare-outcome reading):
    // flip below 1 so the scale is symmetric
    val rr = when(orMh >= 1.0, orMh).otherwise(lit(1.0) / orMh)
    val ev = when(rr > 1.0, rr + sqrt(rr * (rr - 1.0))).otherwise(lit(1.0))
    m.select(col("n_strata"),
      when(ok, round(orMh, 6)).otherwise(lit(null).cast("double"))
        .as("or_mh"),
      when(ok && varLn >= 0, round(exp(log(orMh) - lit(1.96) * seLn), 6))
        .otherwise(lit(null).cast("double")).as("or_lo"),
      when(ok && varLn >= 0, round(exp(log(orMh) + lit(1.96) * seLn), 6))
        .otherwise(lit(null).cast("double")).as("or_hi"),
      when(ok, round(ev, 6)).otherwise(lit(null).cast("double"))
        .as("e_value"))
  }

  /**
   * QINI / UPLIFT curve — the causal twin of the gains curve: rank the
   * population by a targeting score, and per score decile read the
   * CUMULATIVE incremental conversions the treated arm shows over the
   * control arm scaled to the treated volume — Qini(k) = convT(k) −
   * convC(k)·nT(k)/nC(k). A model can have a great ROC and a flat Qini
   * (it finds converters, not PERSUADABLES); this is the curve an
   * uplift/targeting model is actually judged on. Deciles come from
   * the distributed NTILE kernel (exact SQL-NTILE semantics, no
   * single-task sort). Emits one row per decile: (decile, n_treated,
   * n_control, conv_treated, conv_control, qini 6dp), cumulative,
   * ordered.
   *
   * Deterministic: decile assignment is the kernel's exact rank
   * arithmetic on a (score desc, key asc) total order; all counts
   * exact; qini is one double chain per decile row.
   *
   * Scale: the kernel's probe + bucketed windows over the unit frame,
   * one decile aggregate, a 10-row cumulative window — unit-frame
   * sized once, decile-sized after.
   */
  def qiniCurve(df: DataFrame, scoreCol: String, keyCol: String,
                treatedCol: String, convertedCol: String,
                bins: Int = 10): DataFrame = {
    require(bins >= 2 && bins <= 100, s"bins in [2, 100], got $bins")
    val base = df.select(col(scoreCol).cast("double").as("__sc"),
        col(keyCol).as("__k"), col(treatedCol).cast("boolean").as("__t"),
        col(convertedCol).cast("boolean").as("__c"))
      .filter(col("__sc").isNotNull && col("__k").isNotNull &&
        col("__t").isNotNull && col("__c").isNotNull)
    val tiled = distributedNtile(base, bins, "__sc", desc = true,
      tieCol = "__k", outCol = "decile")
    val per = tiled.groupBy("decile").agg(
      sum(when(col("__t"), 1L).otherwise(0L)).as("n_treated"),
      sum(when(!col("__t"), 1L).otherwise(0L)).as("n_control"),
      sum(when(col("__t") && col("__c"), 1L).otherwise(0L))
        .as("conv_treated"),
      sum(when(!col("__t") && col("__c"), 1L).otherwise(0L))
        .as("conv_control"))
    // unpartitioned window BOUND: ≤bins decile rows
    val wCum = Window.orderBy(col("decile").asc)
      .rowsBetween(Window.unboundedPreceding, 0)
    per
      .withColumn("__ct", sum(col("conv_treated")).over(wCum))
      .withColumn("__cc", sum(col("conv_control")).over(wCum))
      .withColumn("__nt", sum(col("n_treated")).over(wCum))
      .withColumn("__nc", sum(col("n_control")).over(wCum))
      .select(col("decile"), col("n_treated"), col("n_control"),
        col("conv_treated"), col("conv_control"),
        when(col("__nc") > 0,
          round(col("__ct").cast("double") - col("__cc").cast("double") *
            col("__nt") / col("__nc"), 6))
          .otherwise(lit(null).cast("double")).as("qini"))
      .orderBy("decile")
  }

  /**
   * KAPLAN–MEIER survival estimator — the right-censoring-aware
   * lifetime curve: S(t) = Π_{tᵢ ≤ t} (1 − dᵢ/nᵢ) over the observed
   * event times, where censored units (still alive when observation
   * stopped) leave the at-risk set WITHOUT counting as deaths — the
   * estimator a naive "fraction surviving past t" gets wrong the
   * moment any unit is censored. Input is the per-unit frame
   * (duration, eventObserved: true = the terminal event happened,
   * false = censored at that duration). Emits one row per distinct
   * duration with ≥1 observed event or censoring: (t, n_risk,
   * n_events, n_censored, survival 6dp), ordered by t.
   *
   * Determinism: counts exact; each step factor 1 − d/n rounds to 8dp,
   * the cumulative product runs as exp(Σ round(ln(factor), 8)) over the
   * SORTED DISTINCT durations (a fixed order both engines share), and
   * an absorbing-zero guard handles the everyone-dies time (ln(0) never
   * evaluates — the factor-0 row forces survival 0 from there on).
   *
   * Convention: deaths at t leave the curve AT t (S drops at event
   * times); censorings at t are still at risk at t and leave after —
   * the standard KM tie rule.
   *
   * Scale: one duration histogram (support-sized) + a cumulative window
   * over the sorted support — the ksStatistic discipline; the unit
   * frame streams once.
   */
  def kaplanMeier(df: DataFrame, durationCol: String,
                  eventCol: String): DataFrame = {
    val counts = df
      .filter(col(durationCol).isNotNull && col(eventCol).isNotNull)
      .groupBy(col(durationCol).cast("long").as("t"))
      .agg(sum(when(col(eventCol), 1L).otherwise(0L)).as("n_events"),
        sum(when(col(eventCol), 0L).otherwise(1L)).as("n_censored"))
    val tot = counts.agg(sum(col("n_events") + col("n_censored")).as("__n"))
    // unpartitioned window BOUND: duration-day histogram rows
    val wPrev = Window.orderBy(col("t").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val wCum = Window.orderBy(col("t").asc)
      .rowsBetween(Window.unboundedPreceding, 0)
    val risk = counts.crossJoin(broadcast(tot))
      .withColumn("n_risk",
        col("__n") - coalesce(sum(col("n_events") + col("n_censored"))
          .over(wPrev), lit(0L)))
      .withColumn("__f",
        round(lit(1.0) - col("n_events").cast("double") /
          col("n_risk").cast("double"), 8))
    risk
      .withColumn("__minf", min(col("__f")).over(wCum))
      .withColumn("survival",
        when(col("__minf") === 0.0, lit(0.0))
          .otherwise(round(exp(sum(
            round(log(when(col("__f") > 0, col("__f")).otherwise(1.0)), 8))
            .over(wCum)), 6)))
      .select(col("t"), col("n_risk"), col("n_events"), col("n_censored"),
        col("survival"))
      .orderBy("t")
  }

  /**
   * LOG-RANK TEST — "do the two arms' SURVIVAL CURVES differ", the
   * standard two-sample test on right-censored lifetimes: where
   * [[kaplanMeier]] draws each curve, this one asks whether the gap
   * between them is signal. At every distinct event time, the observed
   * group-A deaths are compared with the hypergeometric expectation
   * given the combined at-risk sets; Z = Σ(d_A − E_A)/√ΣV. Input is
   * the per-unit (duration, eventObserved, group) frame — the
   * [[kaplanMeier]] input plus the arm. Emits one row (n_a, n_b,
   * observed_a, expected_a, chi2, z) — expected 6dp, z/chi2 6dp; no
   * events in either arm, or zero total variance, emits NULL z/chi2.
   *
   * Deterministic: at-risk and death counts are exact integers off
   * cumulative windows over the duration histogram; the per-time
   * E/V terms are divisions of exact values rounded 8dp and summed
   * through DECIMAL (partition-order-free); one pinned double chain on
   * the final row. The V term uses the standard hypergeometric form
   * d·(n_a/n)·(1 − n_a/n)·(n − d)/(n − 1), zero when n = 1.
   *
   * Scale: one duration histogram + two cumulative windows over the
   * bounded duration grid (the [[kaplanMeier]] shape exactly) + a
   * grid-row reduce; the unit frame streams once.
   */
  def logRankTest(df: DataFrame, durationCol: String, eventCol: String,
                  groupCol: String, groupA: String,
                  groupB: String): DataFrame = {
    val dterm = org.apache.spark.sql.types.DecimalType(24, 8)
    val kept = df
      .filter(col(durationCol).isNotNull && col(eventCol).isNotNull)
      .filter(col(groupCol) === groupA || col(groupCol) === groupB)
      .select(col(durationCol).cast("long").as("t"),
        col(eventCol).cast("boolean").as("__e"),
        (col(groupCol) === groupA).as("__a"))
    val counts = kept.groupBy("t").agg(
      sum(when(col("__a") && col("__e"), 1L).otherwise(0L)).as("da"),
      sum(when(!col("__a") && col("__e"), 1L).otherwise(0L)).as("db"),
      sum(when(col("__a"), 1L).otherwise(0L)).as("la"),
      sum(when(!col("__a"), 1L).otherwise(0L)).as("lb"))
    val tot = counts.agg(sum(col("la")).as("__na"), sum(col("lb")).as("__nb"))
    // unpartitioned window BOUND: duration-grid histogram rows
    val wPrev = Window.orderBy(col("t").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val risk = counts.crossJoin(broadcast(tot))
      .withColumn("ra",
        col("__na") - coalesce(sum(col("la")).over(wPrev), lit(0L)))
      .withColumn("rb",
        col("__nb") - coalesce(sum(col("lb")).over(wPrev), lit(0L)))
      .filter(col("da") + col("db") > 0)
    val d = col("da") + col("db")
    val n = col("ra") + col("rb")
    val e = d.cast("double") * col("ra").cast("double") / n.cast("double")
    val v = when(n > 1,
      d.cast("double") * (col("ra").cast("double") / n.cast("double")) *
        (lit(1.0) - col("ra").cast("double") / n.cast("double")) *
        (n - d).cast("double") / (n - 1).cast("double"))
      .otherwise(lit(0.0))
    val m = risk
      .select(col("__na"), col("__nb"), col("da"),
        round(e, 8).cast(dterm).as("__et"), round(v, 8).cast(dterm).as("__vt"))
      .groupBy("__na", "__nb")
      .agg(sum(col("da")).as("observed_a"), sum(col("__et")).as("__ea"),
        sum(col("__vt")).as("__va"))
    val zNum = col("observed_a").cast("double") - col("__ea").cast("double")
    m.select(col("__na").as("n_a"), col("__nb").as("n_b"),
      col("observed_a"), round(col("__ea").cast("double"), 6).as("expected_a"),
      when(col("__va").cast("double") > 0,
        round(zNum * zNum / col("__va").cast("double"), 6))
        .otherwise(lit(null).cast("double")).as("chi2"),
      when(col("__va").cast("double") > 0,
        round(zNum / sqrt(col("__va").cast("double")), 6))
        .otherwise(lit(null).cast("double")).as("z"))
  }

  /**
   * 1-D WASSERSTEIN (earth-mover) distance — "how much value-mass must
   * move, and how far, to turn slice A's distribution into slice B's":
   * the area between the two CDFs, W₁ = Σᵢ |F_a(vᵢ) − F_b(vᵢ)|·(vᵢ₊₁ −
   * vᵢ) over the sorted distinct support. Completes the
   * distribution-gap trio: [[ksStatistic]] reads the WORST point gap,
   * `driftPsi` a binned likelihood ratio — W₁ is the only one that
   * weighs HOW FAR the mass moved (a tail shifted by 10× and one
   * shifted by 1% have the same KS if the same fraction crossed).
   * Emits one row (n_a, n_b, w1), 6dp in value units. Pre-bin unbounded
   * continuous values (the KS convention — the support drives a
   * cumulative window).
   *
   * Deterministic: per-value counts exact; each step term
   * |CDF gap|·gap-width is one double chain off exact integers,
   * rounded 8dp and decimal-summed.
   *
   * Scale: one support-sized histogram + one cumulative + one lead
   * window over the sorted support + a one-row reduce — the
   * [[ksStatistic]] shape exactly.
   */
  def wasserstein1D(df: DataFrame, valueCol: String, groupCol: String,
                    groupA: String, groupB: String): DataFrame = {
    val dterm = org.apache.spark.sql.types.DecimalType(24, 8)
    val kept = df
      .filter(col(groupCol) === groupA || col(groupCol) === groupB)
      .filter(col(valueCol).isNotNull)
    val counts = kept
      .groupBy(col(valueCol).cast("double").as("__v"))
      .agg(sum(when(col(groupCol) === groupA, 1L).otherwise(0L)).as("ca"),
        sum(when(col(groupCol) === groupB, 1L).otherwise(0L)).as("cb"))
    val tot = counts.agg(sum(col("ca")).as("__ta"), sum(col("cb")).as("__tb"))
    // unpartitioned window BOUND: pre-binned distinct-value support
    val wCum = Window.orderBy(col("__v").asc)
      .rowsBetween(Window.unboundedPreceding, 0)
    val wLead = Window.orderBy(col("__v").asc)
    val terms = counts.crossJoin(broadcast(tot))
      .withColumn("__fa", sum(col("ca")).over(wCum))
      .withColumn("__fb", sum(col("cb")).over(wCum))
      .withColumn("__next", lead(col("__v"), 1).over(wLead))
      .filter(col("__next").isNotNull && col("__ta") > 0 && col("__tb") > 0)
      .select(col("__ta"), col("__tb"),
        round(abs(col("__fa").cast("double") / col("__ta") -
          col("__fb").cast("double") / col("__tb")) *
          (col("__next") - col("__v")), 8).cast(dterm).as("__w"))
    terms.groupBy("__ta", "__tb")
      .agg(round(sum(col("__w")).cast("double"), 6).as("w1"))
      .select(col("__ta").as("n_a"), col("__tb").as("n_b"), col("w1"))
  }

  /**
   * KENDALL'S τ-b — the concordance rank correlation: of all row pairs,
   * how many order the two columns the SAME way minus how many invert,
   * tie-adjusted. Beside [[spearmanCorr]] (which correlates rank
   * VALUES and rewards large rank gaps), τ counts ORDER AGREEMENTS —
   * the natural statistic for "does approving X more often accompany
   * approving Y" on ordinal columns, and the more robust of the two
   * under heavy ties. Computed WITHOUT pair enumeration: on the dense
   * |X|×|Y| level grid (marginals crossed, observed counts coalesced in
   * — the chi²/Cramér's-V shape), concordant mass per cell is the 2-D
   * strict prefix sum P = Σ_{x'<x,y'<y} n (two windows: a y-prefix
   * within each column, then an x-prefix of those within each row) and
   * discordant mass is CX − P − R off the same windows. C = Σ n·P,
   * D = Σ n·Q are exact integers. Emits one row (n, concordant,
   * discordant, tau_b, gamma) — τ_b = 2(C−D)/√((n(n−1)−Σtx(tx−1))·
   * (n(n−1)−Σty(ty−1))), Goodman–Kruskal γ = (C−D)/(C+D), both 8dp;
   * degenerate denominators emit NULLs.
   *
   * PRE-BIN unbounded continuous columns (the KS convention): the
   * dense grid is |X|·|Y| cells — bounded LEVELS are the contract,
   * exactly as chi² requires.
   *
   * Scale: one (x,y) cell aggregate + two marginal rollups + windows
   * on the bounded grid + a grid reduce; the corpus streams once.
   */
  def kendallTauB(df: DataFrame, xCol: String, yCol: String): DataFrame = {
    val out = concordanceCore(df, xCol, yCol)
    val n0x2 = col("n").cast(dec380) * (col("n") - 1).cast(dec380)
    val d1 = (n0x2 - col("__tx2")).cast("double")
    val d2 = (n0x2 - col("__ty2")).cast("double")
    val num = (col("__c") - col("__d")).cast("double")
    val cd = (col("__c") + col("__d")).cast("double")
    out.select(col("n"),
      col("__c").cast("long").as("concordant"),
      col("__d").cast("long").as("discordant"),
      when(d1 > 0 && d2 > 0, round(num * 2 / sqrt(d1 * d2), 8))
        .otherwise(lit(null).cast("double")).as("tau_b"),
      when(cd > 0, round(num / cd, 8))
        .otherwise(lit(null).cast("double")).as("gamma"))
  }

  private val dec380 = org.apache.spark.sql.types.DecimalType(38, 0)

  /** Shared concordance kernel behind [[kendallTauB]] and [[somersD]]:
    * one row (n, __c = concordant-pair count, __d = discordant, __tx2 =
    * Σ cx(cx−1) doubled x-tie mass, __ty2 = doubled y-tie mass), all
    * exact integers, computed on the dense |X|×|Y| level grid via 2-D
    * strict prefix sums — never pair enumeration (see kendallTauB's
    * doc for the construction and the PRE-BIN contract). */
  private def concordanceCore(df: DataFrame, xCol: String,
                              yCol: String): DataFrame = {
    val dec = dec380
    val base = df.select(col(xCol).as("__x"), col(yCol).as("__y"))
      .filter(col("__x").isNotNull && col("__y").isNotNull)
    val cells = base.groupBy("__x", "__y").agg(count(lit(1)).as("__n"))
    val mx = cells.groupBy("__x").agg(sum(col("__n")).as("__cx"))
    val my = cells.groupBy("__y").agg(sum(col("__n")).as("__cy"))
    val grid = mx.crossJoin(my)
      .join(cells, Seq("__x", "__y"), "left")
      .withColumn("__n", coalesce(col("__n"), lit(0L)))
    val wB = Window.partitionBy("__x").orderBy(col("__y").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val wR = Window.partitionBy("__y").orderBy(col("__x").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val g2 = grid
      .withColumn("__B", coalesce(sum(col("__n")).over(wB), lit(0L)))
      .withColumn("__P", coalesce(sum(col("__B")).over(wR), lit(0L)))
      .withColumn("__R", coalesce(sum(col("__n")).over(wR), lit(0L)))
      .withColumn("__CXp", coalesce(sum(col("__cx")).over(wR), lit(0L)))
      .withColumn("__Q", col("__CXp") - col("__P") - col("__R"))
    val m = g2.agg(sum(col("__n")).as("n"),
      sum(col("__n").cast(dec) * col("__P").cast(dec)).as("__c"),
      sum(col("__n").cast(dec) * col("__Q").cast(dec)).as("__d"))
    val tx = mx.agg(sum(col("__cx").cast(dec) * (col("__cx") - 1).cast(dec))
      .as("__tx2"))
    val ty = my.agg(sum(col("__cy").cast(dec) * (col("__cy") - 1).cast(dec))
      .as("__ty2"))
    m.crossJoin(broadcast(tx)).crossJoin(broadcast(ty))
  }

  /**
   * SOMERS' D — the ASYMMETRIC concordance coefficient: where
   * [[kendallTauB]] treats the two columns symmetrically (its
   * denominator is the geometric mean of the two untied-pair counts),
   * Somers' D names a RESPONSE: D_y|x = (C−D) / (pairs untied on x) —
   * "of the pairs the predictor actually orders, what fraction does
   * the response order the same way, net". The ordinal analog of a
   * regression slope (and the statistic under the AUC identity
   * D = 2·AUC − 1 for binary y) — the right readout when one column
   * predicts and the other responds, where τ-b would dilute by ties
   * in the response. Emits one row (n, concordant, discordant,
   * d_y_given_x, d_x_given_y), both directions 8dp (τ_b² =
   * D_y|x · D_x|y); an all-tied predictor emits NULL for its
   * direction.
   *
   * PRE-BIN unbounded continuous columns (the [[kendallTauB]] grid
   * contract: bounded levels).
   *
   * Deterministic: the shared concordance kernel is all exact
   * integers; each direction is one division on the final row.
   *
   * Scale: identical to [[kendallTauB]] — one cell aggregate + two
   * marginal rollups + windows on the bounded |X|×|Y| grid + a grid
   * reduce; the corpus streams once.
   */
  def somersD(df: DataFrame, xCol: String, yCol: String): DataFrame = {
    val out = concordanceCore(df, xCol, yCol)
    val n0x2 = col("n").cast(dec380) * (col("n") - 1).cast(dec380)
    val d1 = (n0x2 - col("__tx2")).cast("double") // pairs untied on x (×2)
    val d2 = (n0x2 - col("__ty2")).cast("double") // pairs untied on y (×2)
    val num = (col("__c") - col("__d")).cast("double")
    out.select(col("n"),
      col("__c").cast("long").as("concordant"),
      col("__d").cast("long").as("discordant"),
      when(d1 > 0, round(num * 2 / d1, 8))
        .otherwise(lit(null).cast("double")).as("d_y_given_x"),
      when(d2 > 0, round(num * 2 / d2, 8))
        .otherwise(lit(null).cast("double")).as("d_x_given_y"))
  }

  /**
   * GOODMAN–KRUSKAL LAMBDA — proportional-reduction-in-error
   * association for two categoricals: λ_b|a = how much better you
   * predict b's modal category when told a, relative to always
   * guessing b's global mode — (Σ_a max_b n_ab − max_b n_·b) /
   * (n − max_b n_·b). The "does this column actually help a
   * classifier" score that chi²/MI cannot give directly (they measure
   * dependence, λ measures PREDICTION gain; λ = 0 means a never
   * changes the best guess even when dependence exists). Emits one
   * row (n, lambda_b_given_a, lambda_a_given_b), 8dp; a degenerate
   * margin (global mode = everything) emits NULL for that direction.
   *
   * Deterministic: all counts exact integers; one division per
   * direction on the final row.
   *
   * Scale: the chi² shape — one cell aggregate, two per-level max
   * rollups, two 1-row marginal-max broadcasts; the corpus streams
   * once.
   */
  def gkLambda(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    val cells = df
      .filter(col(aCol).isNotNull && col(bCol).isNotNull)
      .groupBy(col(aCol).as("__a"), col(bCol).as("__b"))
      .agg(count(lit(1)).as("o"))
    // within-level modal masses: Σ_a max_b and Σ_b max_a
    val rowMax = cells.groupBy("__a").agg(max(col("o")).as("__m"))
      .agg(sum(col("__m")).as("__sma"))
    val colMax = cells.groupBy("__b").agg(max(col("o")).as("__m"))
      .agg(sum(col("__m")).as("__smb"))
    // global modal masses of each margin + the total
    val margA = cells.groupBy("__a").agg(sum(col("o")).as("__ca"))
      .agg(max(col("__ca")).as("__gma"), sum(col("__ca")).as("n"))
    val margB = cells.groupBy("__b").agg(sum(col("o")).as("__cb"))
      .agg(max(col("__cb")).as("__gmb"))
    val out = margA.crossJoin(broadcast(margB))
      .crossJoin(broadcast(rowMax)).crossJoin(broadcast(colMax))
    val denB = (col("n") - col("__gmb")).cast("double")
    val denA = (col("n") - col("__gma")).cast("double")
    out.select(col("n"),
      when(denB > 0,
        round((col("__sma") - col("__gmb")).cast("double") / denB, 8))
        .otherwise(lit(null).cast("double")).as("lambda_b_given_a"),
      when(denA > 0,
        round((col("__smb") - col("__gma")).cast("double") / denA, 8))
        .otherwise(lit(null).cast("double")).as("lambda_a_given_b"))
  }

  /**
   * THEIL'S U (uncertainty coefficient) — the ENTROPY-normalized
   * dependence: U(b|a) = (H(b) − H(b|a)) / H(b) = MI / H(b), the
   * fraction of b's uncertainty that knowing a removes. The [0,1]
   * companion to [[mutualInformation]]'s raw nats (MI has no fixed
   * scale — 0.3 nats is huge for a near-constant column and trivial
   * for a uniform one; U normalizes by the margin's own entropy) and,
   * unlike Cramér's V, it is ASYMMETRIC — U(label|feature) is the
   * feature-selection readout. Emits one row (n, h_a, h_b, mi,
   * u_b_given_a, u_a_given_b), entropies/MI 6dp in nats, U 8dp;
   * a constant margin (H = 0) emits NULL for its direction.
   *
   * Deterministic: the [[mutualInformation]] discipline — per-cell
   * and per-level (c/n)·ln terms round to 8dp and sum through
   * DECIMAL; MI clamps at 0.
   *
   * Scale: the chi² shape — one cell aggregate + two marginal
   * rollups + 1-row broadcasts; the corpus streams once.
   */
  def theilsU(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(20, 8)
    val obs = df
      .filter(col(aCol).isNotNull && col(bCol).isNotNull)
      .groupBy(col(aCol).as("__a"), col(bCol).as("__b"))
      .agg(count(lit(1)).as("o"))
    val ra = obs.groupBy("__a").agg(sum(col("o")).as("ra"))
    val rb = obs.groupBy("__b").agg(sum(col("o")).as("rb"))
    val tot = obs.agg(sum(col("o")).as("n"))
    // marginal entropies: −Σ (c/n)·ln(c/n), 8dp terms through decimal
    def entropyOf(marg: DataFrame, cnt: String): DataFrame =
      marg.crossJoin(broadcast(tot))
        .select(round(col(cnt).cast("double") / col("n") *
          log(col(cnt).cast("double") / col("n")), 8).cast(dec).as("__t"))
        .agg(greatest(round(-sum(col("__t")).cast("double"), 6), lit(0.0))
          .as("__h"))
    val ha = entropyOf(ra, "ra")
    val hb = entropyOf(rb, "rb")
    val p = col("o").cast("double") / col("n")
    val term = p * log(col("o").cast("double") * col("n") /
      (col("ra").cast("double") * col("rb")))
    val mi = obs.join(ra, "__a").join(rb, "__b").crossJoin(broadcast(tot))
      .select(col("n"), round(term, 8).cast(dec).as("__t"))
      .groupBy("n")
      .agg(greatest(round(sum(col("__t")).cast("double"), 6), lit(0.0))
        .as("mi"))
    mi.crossJoin(broadcast(ha.select(col("__h").as("h_a"))))
      .crossJoin(broadcast(hb.select(col("__h").as("h_b"))))
      .select(col("n"), col("h_a"), col("h_b"), col("mi"),
        when(col("h_b") > 0, round(col("mi") / col("h_b"), 8))
          .otherwise(lit(null).cast("double")).as("u_b_given_a"),
        when(col("h_a") > 0, round(col("mi") / col("h_a"), 8))
          .otherwise(lit(null).cast("double")).as("u_a_given_b"))
  }

  /**
   * CLIFF'S DELTA — the ordinal EFFECT SIZE behind [[mannWhitneyU]]'s
   * significance: δ = P(a > b) − P(a < b) = 2U_a/(n_a·n_b) − 1, the
   * probability a random group-A value beats a random group-B value,
   * minus the reverse. Where U's z says "the shift is real", δ says
   * "how big" on a scale that survives any monotone transform and any
   * sample size (a t-test effect size needs normality; δ needs only
   * order). Emits one row (n_a, n_b, cliffs_delta 8dp, magnitude) —
   * the magnitude label uses the standard Romano bands (|δ| < 0.147
   * negligible / < 0.33 small / < 0.474 medium / else large).
   *
   * Deterministic: 2U_a is the exact doubled-rank integer identity
   * (2R_A − n_a(n_a+1)); δ is a single division of exact values.
   *
   * Scale: the [[mannWhitneyU]] shape — a support-sized histogram
   * ranked by the distributed kernel + a one-row reduce.
   */
  def cliffsDelta(df: DataFrame, valueCol: String, groupCol: String,
                  groupA: String, groupB: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val kept = df
      .filter(col(groupCol) === groupA || col(groupCol) === groupB)
      .filter(col(valueCol).isNotNull)
    val counts = kept
      .groupBy(col(valueCol).as("__v"))
      .agg(sum(when(col(groupCol) === groupA, 1L).otherwise(0L)).as("ca"),
        sum(when(col(groupCol) === groupB, 1L).otherwise(0L)).as("cb"))
      .withColumn("__t", col("ca") + col("cb"))
    val ranked = doubledRanks(counts, "__v", "__t",
      probe = Some(kept.select(col(valueCol).as("__v"))))
    val m = ranked.agg(sum(col("ca")).as("n_a"), sum(col("cb")).as("n_b"),
      sum(col("ca").cast(dec) * col("__r2").cast(dec)).as("__ra2"))
    val na = col("n_a"); val nb = col("n_b")
    val ua2 = col("__ra2") - (na.cast(dec) * (na + 1).cast(dec))
    val delta = (ua2 - na.cast(dec) * nb.cast(dec)).cast("double") /
      (na.cast(dec) * nb.cast(dec)).cast("double")
    val deltaR = round(delta, 8)
    m.filter(na > 0 && nb > 0)
      .select(na, nb, deltaR.as("cliffs_delta"),
        when(abs(deltaR) < 0.147, "negligible")
          .when(abs(deltaR) < 0.33, "small")
          .when(abs(deltaR) < 0.474, "medium")
          .otherwise("large").as("magnitude"))
  }

  /**
   * FRIEDMAN TEST — the repeated-measures rank ANOVA: k treatments
   * measured once per BLOCK (k event types per day, k variants per
   * user), ranked WITHIN each block so between-block level differences
   * cancel by construction — the question [[kruskalWallis]] cannot ask,
   * because pooling all blocks lets block-to-block drift masquerade as
   * a treatment effect. Requires complete blocks; blocks missing any
   * treatment are DROPPED (and the used count reported) — dense-fill
   * upstream when absence means zero. Q uses the doubled-mid-rank
   * deviations identity Q = 3·Σ_j(ΣR2_j − n(k+1))²/(n·k·(k+1)) — all
   * integer until one division — with the standard tie correction
   * C = 1 − Σ(t³−t)/(nk(k²−1)). Emits one row (n_blocks, k, q,
   * q_tie_adj), 6dp; all-tied blocks (C ≤ 0) emit NULL q_tie_adj.
   *
   * Scale: within-block ranks ride block-partitioned RANGE windows (k
   * rows per block — never a corpus-wide sort); everything after is a
   * k-row reduce. The block-completeness filter is a count window plus
   * a k-bounded collect_set distinct-count window (both block-local).
   */
  def friedmanQ(df: DataFrame, blockCol: String, treatmentCol: String,
                valueCol: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val base = df.select(col(blockCol).as("__blk"),
        col(treatmentCol).as("__trt"), col(valueCol).cast("double").as("__v"))
      .filter(col("__blk").isNotNull && col("__trt").isNotNull &&
        col("__v").isNotNull)
    val k = base.agg(countDistinct(col("__trt")).as("__k"))
    // keep only complete blocks: exactly k rows AND k DISTINCT
    // treatments — row count alone would let a block with a duplicated
    // treatment and a missing one slip through as "complete" and skew
    // its within-block ranks (distinct window aggregates are
    // unsupported, so the distinct count rides a k-bounded collect_set)
    val wBlk = Window.partitionBy("__blk")
    val complete = base
      .withColumn("__bk", count(lit(1)).over(wBlk))
      .withColumn("__bkd", size(collect_set(col("__trt")).over(wBlk)))
      .crossJoin(broadcast(k))
      .filter(col("__bk") === col("__k") && col("__bkd") === col("__k"))
      .drop("__bkd")
    // doubled mid-ranks within block: 2·cnt_less + ties + 1, with
    // cnt_less = rank() − 1 (rank() is 1 + strictly-smaller count, so
    // ties share the min rank) and ties from a same-value count — both
    // block-partitioned, k rows per block
    val wRank = Window.partitionBy("__blk").orderBy(col("__v").asc)
    val wTie = Window.partitionBy("__blk", "__v")
    val ranked = complete
      .withColumn("__r2",
        (rank().over(wRank) - 1).cast("long") * 2 +
          count(lit(1)).over(wTie) + 1)
    val byT = ranked.groupBy("__trt")
      .agg(sum(col("__r2")).as("__R2"), count(lit(1)).as("__nb"))
    // tie mass per (block, value): Σ(t³−t)
    val ties = ranked.groupBy("__blk", "__v").agg(count(lit(1)).as("__t"))
      .agg(sum(col("__t").cast(dec) * col("__t").cast(dec) *
        col("__t").cast(dec) - col("__t").cast(dec)).as("__ties"))
    val dev = col("__R2").cast(dec) -
      col("__nb").cast(dec) * (col("__k") + 1).cast(dec)
    val sb = byT.crossJoin(broadcast(k))
      .select(col("__nb"), col("__k"), (dev * dev).as("__dev2"))
      .groupBy("__nb", "__k")
      .agg(sum(col("__dev2")).as("__sd2"), count(lit(1)).as("__kk"))
    val out = sb.crossJoin(broadcast(ties))
    val nD = col("__nb").cast("double")
    val kD = col("__k").cast("double")
    val q = lit(3.0) * col("__sd2").cast("double") /
      (nD * kD * (kD + 1.0))
    val corr = lit(1.0) - col("__ties").cast("double") /
      (nD * kD * (kD * kD - 1.0))
    out.filter(col("__nb") > 0 && col("__k") > 1)
      .select(col("__nb").as("n_blocks"), col("__k").as("k"),
        round(q, 6).as("q"),
        when(corr > 0, round(q / corr, 6))
          .otherwise(lit(null).cast("double")).as("q_tie_adj"))
  }

  /**
   * PAGE'S TREND TEST — the ORDERED-alternative Friedman: when the
   * treatments carry an a-priori order (line positions, dose levels,
   * model sizes), [[friedmanQ]] spends k−1 degrees of freedom noticing
   * ANY ranking difference; Page's L = Σ_j j·R_j spends one on the
   * hypothesized monotone order and detects it at a fraction of the
   * sample — the within-block twin of [[cochranArmitage]]. Treatment
   * weights are 1..k in ascending `treatmentCol` order (the order IS
   * the alternative). Same complete-block contract as Friedman
   * (incomplete blocks dropped); mid-rank ties keep L exact via
   * doubled ranks (2L = Σ j·R2_j, integer), z uses the classical
   * no-ties moments (mid-ranks make it mildly conservative under
   * heavy ties — the standard reading). Emits one row (n_blocks, k,
   * l_stat, z, direction ∈ increasing | decreasing | none), z 6dp.
   *
   * Scale: identical to [[friedmanQ]] — block-partitioned k-row
   * windows, a k-row weight artifact, a k-row reduce.
   */
  def pageTrend(df: DataFrame, blockCol: String, treatmentCol: String,
                valueCol: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val base = df.select(col(blockCol).as("__blk"),
        col(treatmentCol).as("__trt"), col(valueCol).cast("double").as("__v"))
      .filter(col("__blk").isNotNull && col("__trt").isNotNull &&
        col("__v").isNotNull)
    val k = base.agg(countDistinct(col("__trt")).as("__k"))
    // friedmanQ's completeness contract: k rows AND k distinct
    // treatments per block (see the duplicated-treatment note there)
    val wBlk = Window.partitionBy("__blk")
    val complete = base
      .withColumn("__bk", count(lit(1)).over(wBlk))
      .withColumn("__bkd", size(collect_set(col("__trt")).over(wBlk)))
      .crossJoin(broadcast(k))
      .filter(col("__bk") === col("__k") && col("__bkd") === col("__k"))
      .drop("__bkd")
    val wRank = Window.partitionBy("__blk").orderBy(col("__v").asc)
    val wTie = Window.partitionBy("__blk", "__v")
    val ranked = complete
      .withColumn("__r2",
        (rank().over(wRank) - 1).cast("long") * 2 +
          count(lit(1)).over(wTie) + 1)
    // treatment weights 1..k in the hypothesized ascending order
    // unpartitioned window BOUND: k distinct treatment rows
    val wj = Window.orderBy(col("__trt").asc)
    val weights = ranked.select("__trt").distinct()
      .withColumn("__j", row_number().over(wj).cast("long"))
    val byT = ranked.groupBy("__trt")
      .agg(sum(col("__r2")).as("__R2"), count(lit(1)).as("__nb"))
      .join(broadcast(weights), "__trt")
    val m = byT.agg(
      sum(col("__j").cast(dec) * col("__R2").cast(dec)).as("__l2"),
      max(col("__nb")).as("__n"), count(lit(1)).as("__kk"))
    val nD = col("__n").cast("double")
    val kD = col("__kk").cast("double")
    val l2D = col("__l2").cast("double")
    // z = (2L − 2E)/√(4·Var): 2E = n·k(k+1)²/2, 4·Var = n·k²(k+1)(k²−1)/36
    val e2 = nD * kD * (kD + 1.0) * (kD + 1.0) / 2.0
    val var4 = nD * kD * kD * (kD + 1.0) * (kD * kD - 1.0) / 36.0
    m.filter(col("__n") > 0 && col("__kk") > 1)
      .select(col("__n").as("n_blocks"), col("__kk").as("k"),
        round(l2D / 2.0, 1).as("l_stat"),
        when(var4 > 0, round((l2D - e2) / sqrt(var4), 6))
          .otherwise(lit(null).cast("double")).as("z"),
        when(l2D > e2, "increasing").when(l2D < e2, "decreasing")
          .otherwise("none").as("direction"))
  }

  /**
   * KENDALL'S W (coefficient of concordance) — "how much do the blocks
   * AGREE on the treatment ranking", the [0, 1]-normalized form of
   * [[friedmanQ]]: W = Q / (m·(k−1)) (the exact classical identity,
   * tie-corrected alongside). Friedman answers "is ANY ranking
   * difference real"; W answers "how consistent is the ranking across
   * blocks" on a fixed scale — 1 = every block ranks the treatments
   * identically, 0 = no agreement beyond chance — the inter-rater /
   * day-over-day stability readout. Same complete-block contract as
   * Friedman (k rows AND k distinct treatments per block). Emits one
   * row (n_blocks, k, w, w_tie_adj), 8dp; all-tied blocks emit NULL
   * w_tie_adj.
   *
   * Deterministic: derives from friedmanQ's 6dp-pinned Q (one division
   * per direction on the one-row frame — the oracle replays the same
   * chain off the same Q).
   *
   * Scale: exactly [[friedmanQ]] — block-partitioned k-row windows +
   * a k-row reduce.
   */
  def kendallW(df: DataFrame, blockCol: String, treatmentCol: String,
               valueCol: String): DataFrame = {
    val q = friedmanQ(df, blockCol, treatmentCol, valueCol)
    val den = (col("n_blocks") * (col("k") - 1)).cast("double")
    q.select(col("n_blocks"), col("k"),
      when(den > 0, round(col("q") / den, 8))
        .otherwise(lit(null).cast("double")).as("w"),
      when(den > 0 && col("q_tie_adj").isNotNull,
        round(col("q_tie_adj") / den, 8))
        .otherwise(lit(null).cast("double")).as("w_tie_adj"))
  }

  /**
   * COCHRAN'S Q — the BINARY repeated-measures test: k treatments
   * observed as success/failure within each block ("did the user ever
   * do event type t", "did the day hit the SLA on each pipeline"), is
   * the success RATE the same across treatments once block-to-block
   * propensity is held fixed? The dichotomous member of the
   * within-block family ([[friedmanQ]] ranks values; McNemar is the
   * k = 2 special case): Q = (k−1)·(k·ΣC_j² − N²) / (k·N − ΣR_i²)
   * with C_j = per-treatment successes, R_i = per-block successes,
   * N = total. An absent (block, treatment) cell counts as failure
   * (the dense-grid convention — absence means "didn't happen"), so
   * every block is complete by construction. Emits one row (n_blocks,
   * k, n_success, q), q 6dp; a degenerate denominator (every block
   * all-success or all-failure) emits NULL q.
   *
   * Deterministic: all sums exact integers (flags deduped per cell
   * first); one division on the final row.
   *
   * Scale: one (block, treatment) incidence aggregate + two rollups
   * (treatment-sized, block-sized) + 1-row reduces — no windows, no
   * grid; the corpus streams once.
   */
  def cochranQ(df: DataFrame, blockCol: String, treatmentCol: String,
               flagCol: String): DataFrame = {
    val dec = dec380
    // per-cell incidence: any true observation makes the cell a success
    val cells = df
      .filter(col(blockCol).isNotNull && col(treatmentCol).isNotNull &&
        col(flagCol).isNotNull)
      .groupBy(col(blockCol).as("__b"), col(treatmentCol).as("__t"))
      .agg(max(when(col(flagCol).cast("boolean"), 1L).otherwise(0L))
        .as("__x"))
    val k = cells.agg(countDistinct(col("__t")).as("k"))
    val byT = cells.groupBy("__t").agg(sum(col("__x")).as("__cj"))
      .agg(sum(col("__cj")).as("__nn"),
        sum(col("__cj").cast(dec) * col("__cj").cast(dec)).as("__sc2"))
    val byB = cells.groupBy("__b").agg(sum(col("__x")).as("__ri"))
      .agg(count(lit(1)).as("n_blocks"),
        sum(col("__ri").cast(dec) * col("__ri").cast(dec)).as("__sr2"))
    val out = byB.crossJoin(broadcast(byT)).crossJoin(broadcast(k))
    val kD = col("k").cast(dec)
    val num = (kD - 1) * (kD * col("__sc2") -
      col("__nn").cast(dec) * col("__nn").cast(dec))
    val den = kD * col("__nn").cast(dec) - col("__sr2")
    out.filter(col("k") > 1)
      .select(col("n_blocks"), col("k"), col("__nn").as("n_success"),
        when(den.cast("double") > 0,
          round(num.cast("double") / den.cast("double"), 6))
          .otherwise(lit(null).cast("double")).as("q"))
  }

  /**
   * FLEISS' KAPPA — chance-corrected agreement for m RATERS per item
   * over k categories (Cohen's kappa is the m = 2, named-raters case;
   * Fleiss handles "any m judges per item, identity-free" — the crowd-
   * label / multi-annotator QC statistic): κ = (P̄ − P̄_e)/(1 − P̄_e)
   * with per-item agreement P_i = (Σ_c n_ic² − m)/(m(m−1)) and chance
   * agreement P̄_e = Σ_c p_c². Items must carry EXACTLY m ratings —
   * items with any other count are dropped (and the used count
   * reported), the standard balanced-panel contract. Emits one row
   * (n_items, m, k_categories, p_bar, p_e, kappa), 6dp; P̄_e = 1
   * (all ratings one category) emits NULL kappa.
   *
   * Deterministic: all counts exact integers; P̄/P̄_e/κ is one pinned
   * double chain on the final row.
   *
   * Scale: one (item, category) cell aggregate + an item rollup + a
   * category rollup + 1-row reduces — no windows; the corpus streams
   * once.
   */
  def fleissKappa(df: DataFrame, itemCol: String, categoryCol: String,
                  m: Int): DataFrame = {
    val out = fleissCore(df, itemCol, categoryCol, m)
    val nI = col("n_items").cast("double")
    val mD = lit(m.toDouble)
    // P̄ = (Σ_i Σ_c n_ic² − n·m) / (n·m·(m−1))
    val pBar = (col("__ss2").cast("double") - nI * mD) /
      (nI * mD * (mD - 1.0))
    // p_c = Σ_i n_ic / (n·m); P̄_e = Σ p_c²
    val pE = col("__snc2").cast("double") / (nI * mD * nI * mD)
    out.filter(col("n_items") > 0)
      .select(col("n_items"), lit(m.toLong).as("m"), col("k_categories"),
        round(pBar, 6).as("p_bar"), round(pE, 6).as("p_e"),
        when(round(pE, 6) < 1.0,
          round((pBar - pE) / (lit(1.0) - pE), 6))
          .otherwise(lit(null).cast("double")).as("kappa"))
  }

  /** Shared balanced-panel agreement moments behind [[fleissKappa]] and
    * [[gwetAc1]]: one row (n_items, k_categories, __ss2 = Σᵢ Σ_c n_ic²
    * over items with exactly m ratings, __snc2 = Σ_c (Σᵢ n_ic)²), all
    * exact decimals. */
  private def fleissCore(df: DataFrame, itemCol: String,
                         categoryCol: String, m: Int): DataFrame = {
    require(m >= 2, s"m must be >= 2, got $m")
    val dec = dec380
    val cells = df
      .filter(col(itemCol).isNotNull && col(categoryCol).isNotNull)
      .groupBy(col(itemCol).as("__i"), col(categoryCol).as("__c"))
      .agg(count(lit(1)).as("__n"))
    // keep only items with exactly m ratings
    val itemTot = cells.groupBy("__i").agg(sum(col("__n")).as("__mi"))
      .filter(col("__mi") === m)
    val kept = cells.join(itemTot, "__i")
    val perItem = kept.groupBy("__i")
      .agg(sum(col("__n").cast(dec) * col("__n").cast(dec)).as("__s2"))
      .agg(count(lit(1)).as("n_items"), sum(col("__s2")).as("__ss2"))
    val perCat = kept.groupBy("__c").agg(sum(col("__n")).as("__nc"))
      .agg(count(lit(1)).as("k_categories"),
        sum(col("__nc").cast(dec) * col("__nc").cast(dec)).as("__snc2"))
    perItem.crossJoin(broadcast(perCat))
  }

  /**
   * GWET'S AC1 — the PREVALENCE-ROBUST agreement coefficient:
   * [[fleissKappa]] collapses toward 0 when one category dominates
   * (the kappa paradox — 95% raw agreement can score κ ≈ 0 because
   * chance agreement is defined as marginal-product matching), while
   * AC1's chance term P_eγ = Σ_c π_c(1−π_c)/(k−1) models chance as
   * agreeing only on the categories raters are genuinely UNSURE about.
   * Report both: κ ≪ AC1 is itself the prevalence-skew diagnostic.
   * Same balanced-panel contract (items with exactly m ratings). Emits
   * one row (n_items, m, k_categories, p_bar, p_e_gamma, ac1), 6dp;
   * P_eγ = 1 emits NULL ac1.
   *
   * Deterministic: [[fleissKappa]]'s exact integer moments; one pinned
   * double chain.
   *
   * Scale: identical to [[fleissKappa]] — one (item, category) cell
   * aggregate + two rollups + 1-row reduces.
   */
  def gwetAc1(df: DataFrame, itemCol: String, categoryCol: String,
              m: Int): DataFrame = {
    val out = fleissCore(df, itemCol, categoryCol, m)
    val nI = col("n_items").cast("double")
    val mD = lit(m.toDouble)
    val kD = col("k_categories").cast("double")
    val pBar = (col("__ss2").cast("double") - nI * mD) /
      (nI * mD * (mD - 1.0))
    // Σ π_c² = Σ(Σᵢ n_ic)² / (n·m)²; P_eγ = (Σπ_c − Σπ_c²)/(k−1) with
    // Σπ_c = 1 on the balanced panel
    val sumPi2 = col("__snc2").cast("double") / (nI * mD * nI * mD)
    val pEg = (lit(1.0) - sumPi2) / (kD - 1.0)
    out.filter(col("n_items") > 0 && col("k_categories") > 1)
      .select(col("n_items"), lit(m.toLong).as("m"), col("k_categories"),
        round(pBar, 6).as("p_bar"), round(pEg, 6).as("p_e_gamma"),
        when(round(pEg, 6) < 1.0,
          round((pBar - pEg) / (lit(1.0) - pEg), 6))
          .otherwise(lit(null).cast("double")).as("ac1"))
  }

  /**
   * JARQUE–BERA normality test — "are these values even close to
   * Gaussian": JB = n/6·(S² + (K−3)²/4) from the sample skewness and
   * kurtosis. The cheap gate before anyone applies a normal-theory
   * readout (z-intervals, CUSUM thresholds, 3σ outlier fences) to a
   * column that might be heavy-tailed — JB large means those
   * calibrations lie. Emits one row (n, skewness, kurtosis, jb), 6dp
   * (kurtosis is the RAW fourth moment ratio, 3 = Gaussian); zero
   * variance emits NULL statistics.
   *
   * Deterministic AND scale-robust: two anchored passes. Pass 1 takes n
   * and the exact Σx; the anchor μ̂ = floor(Σx/n as doubles) is a pinned
   * integer both engines derive identically (IEEE division + floor on
   * exact inputs). Pass 2 sums the anchored deviations d = x−μ̂ to the
   * exact integer Σd..Σd⁴ in DECIMAL(38,0) — |d| is spread-bounded, not
   * magnitude-bounded, so Σd⁴ fits 38 digits even at 10¹² rows of
   * 10⁶-cent spread (the r16 scale audit caught the previous raw-power
   * identity form overflowing at 6M rows: n³Σx⁴ needs ~n³x⁴ digits and
   * ANSI mode THROWS on decimal overflow rather than degrading to
   * NULL). The true central sums follow on the final row in one pinned
   * double chain with δ = Σd/n ∈ [0,1): M2 = Σd²−nδ², M3 = Σd³−3δΣd²
   * +2nδ³, M4 = Σd⁴−4δΣd³+6δ²Σd²−3nδ⁴ — the corrections are ≤δᵏ-sized
   * against spread-sized main terms, so no catastrophic cancellation
   * (the kruskalWallis lesson); then S = √n·M3/M2^1.5, K = n·M4/M2².
   *
   * Scale: two partial-aggregating passes to one row + a 1-row anchor
   * broadcast — the reconcile shape at four powers, no value-range
   * contract.
   */
  def jarqueBera(df: DataFrame, valueCol: String): DataFrame = {
    val dec = dec380
    val base = df.select(cents(col(valueCol)).as("__x"))
      .filter(col("__x").isNotNull)
    val s0 = base.agg(count(lit(1)).as("n"),
        sum(col("__x").cast(dec)).as("s1"))
      .withColumn("__mu",
        floor(col("s1").cast("double") / col("n").cast("double"))
          .cast("long"))
    val d = (col("__x") - col("__mu")).cast(dec)
    val m = base.crossJoin(broadcast(s0))
      .select(col("n"), d.as("__d"))
      .groupBy("n")
      .agg(sum(col("__d")).as("d1"),
        sum(col("__d") * col("__d")).as("d2"),
        sum(col("__d") * col("__d") * col("__d")).as("d3"),
        sum(col("__d") * col("__d") * col("__d") * col("__d")).as("d4"))
    val nD = col("n").cast("double")
    val delta = col("d1").cast("double") / nD
    val m2 = col("d2").cast("double") - nD * delta * delta
    val m3 = col("d3").cast("double") - lit(3.0) * delta *
      col("d2").cast("double") + lit(2.0) * nD * delta * delta * delta
    val m4 = col("d4").cast("double") - lit(4.0) * delta *
      col("d3").cast("double") + lit(6.0) * delta * delta *
      col("d2").cast("double") - lit(3.0) * nD * delta * delta * delta * delta
    val skew = sqrt(nD) * m3 / pow(m2, 1.5)
    val kurt = nD * m4 / (m2 * m2)
    val jb = nD / 6.0 *
      (skew * skew + (kurt - 3.0) * (kurt - 3.0) / 4.0)
    m.filter(col("n") > 1)
      .select(col("n"),
        when(m2 > 0, round(skew, 6))
          .otherwise(lit(null).cast("double")).as("skewness"),
        when(m2 > 0, round(kurt, 6))
          .otherwise(lit(null).cast("double")).as("kurtosis"),
        when(m2 > 0, round(jb, 6))
          .otherwise(lit(null).cast("double")).as("jb"))
  }

  /**
   * CATEGORICAL DISTRIBUTION DISTANCES between two slices — total
   * variation, Bhattacharyya coefficient, and Hellinger distance over
   * the union category support: the drift-audit trio beside
   * [[graft.ops.QualityCheck]]'s PSI (PSI explodes on vanishing bins
   * and JSD needs a log; TVD is the worst-case probability gap a
   * decision rule can suffer, Hellinger is the proper metric that
   * stays bounded through zero bins). Emits one row (n_a, n_b,
   * n_cats, tvd, bhattacharyya, hellinger), 6dp; an empty slice emits
   * no row.
   *
   * Deterministic: per-category |p−q| and √(p·q) terms round 8dp and
   * sum through DECIMAL; Hellinger's √(1−BC) clamps the rounded BC
   * at 1.
   *
   * Scale: one category histogram + a 1-row totals broadcast + a
   * support-sized reduce — the KS shape on categories.
   */
  def distributionDistance(df: DataFrame, catCol: String, groupCol: String,
                           groupA: String, groupB: String): DataFrame = {
    val dterm = org.apache.spark.sql.types.DecimalType(24, 8)
    val counts = df
      .filter(col(groupCol) === groupA || col(groupCol) === groupB)
      .filter(col(catCol).isNotNull)
      .groupBy(col(catCol).as("__c"))
      .agg(sum(when(col(groupCol) === groupA, 1L).otherwise(0L)).as("ca"),
        sum(when(col(groupCol) === groupB, 1L).otherwise(0L)).as("cb"))
    val tot = counts.agg(sum(col("ca")).as("na"), sum(col("cb")).as("nb"))
    val p = col("ca").cast("double") / col("na")
    val q = col("cb").cast("double") / col("nb")
    counts.crossJoin(broadcast(tot))
      .filter(col("na") > 0 && col("nb") > 0)
      .select(col("na"), col("nb"),
        round(abs(p - q), 8).cast(dterm).as("__tv"),
        round(sqrt(p * q), 8).cast(dterm).as("__bc"))
      .groupBy("na", "nb")
      .agg(count(lit(1)).as("n_cats"),
        sum(col("__tv")).as("__stv"), sum(col("__bc")).as("__sbc"))
      .select(col("na").as("n_a"), col("nb").as("n_b"), col("n_cats"),
        round(col("__stv").cast("double") / 2.0, 6).as("tvd"),
        round(least(col("__sbc").cast("double"), lit(1.0)), 6)
          .as("bhattacharyya"),
        round(sqrt(greatest(lit(0.0),
          lit(1.0) - least(col("__sbc").cast("double"), lit(1.0)))), 6)
          .as("hellinger"))
  }

  /**
   * HODGES–LEHMANN shift estimator — the median of ALL pairwise
   * differences a − b between the two samples: the LOCATION companion
   * to [[mannWhitneyU]]'s significance and [[cliffsDelta]]'s
   * probability scale ("group A's values run 4.50 higher, robustly").
   * Unlike mean-difference it survives outliers; unlike
   * median-of-A − median-of-B it is the estimator actually consistent
   * with the rank test. Computed WITHOUT pair enumeration: on the
   * |A-support| × |B-support| level grid, each difference value
   * carries weight ca·cb, and the weighted median reads off a
   * cumulative over the bounded difference support (lower/upper
   * middle averaged — the exact even/odd convention). PRE-BIN
   * unbounded continuous values (the kendall grid contract). Emits
   * one row (n_a, n_b, n_pairs, hl_shift), 6dp.
   *
   * Deterministic: weights and cumulative positions are exact
   * integers; the only division is the final lo/hi average.
   *
   * Scale: one support histogram + a support × support broadcast
   * cross (bounded levels) + a difference-support window + two 1-row
   * reduces; the corpus streams once.
   */
  def hodgesLehmann(df: DataFrame, valueCol: String, groupCol: String,
                    groupA: String, groupB: String): DataFrame = {
    val dec = dec380
    val kept = df
      .filter(col(groupCol) === groupA || col(groupCol) === groupB)
      .filter(col(valueCol).isNotNull)
      .select(col(valueCol).cast("double").as("__v"),
        (col(groupCol) === groupA).as("__a"))
    val sa = kept.filter(col("__a")).groupBy("__v")
      .agg(count(lit(1)).as("ca"))
    val sb = kept.filter(!col("__a")).groupBy("__v")
      .agg(count(lit(1)).as("cb"))
    val diffs = sa.select(col("__v").as("__va"), col("ca"))
      .crossJoin(broadcast(sb.select(col("__v").as("__vb"), col("cb"))))
      .select(round(col("__va") - col("__vb"), 8).as("__d"),
        (col("ca").cast(dec) * col("cb").cast(dec)).as("__w"))
      .groupBy("__d").agg(sum(col("__w")).as("__w"))
    // unpartitioned window BOUND: the bounded difference support
    val wCum = Window.orderBy(col("__d").asc)
      .rowsBetween(Window.unboundedPreceding, 0)
    val cum = diffs.withColumn("__cum", sum(col("__w")).over(wCum))
    // NB the total must NOT be named "__W": Spark resolution is
    // case-insensitive by default, so it would collide with the
    // weight column "__w" above
    val tot = cum.agg(max(col("__cum")).as("__wtot"))
    // lower/upper middle positions read off ONE conditional aggregate
    // over the positioned difference support
    val loHi = cum.crossJoin(broadcast(tot)).agg(
      min(when(col("__cum") * 2 >= col("__wtot") + (col("__wtot") % 2),
        col("__d"))).as("__lo"),
      min(when(col("__cum") * 2 >= col("__wtot") + 2 - (col("__wtot") % 2),
        col("__d"))).as("__hi"),
      max(col("__wtot")).as("__Wt"))
    val sizes = kept.agg(
      sum(when(col("__a"), 1L).otherwise(0L)).as("n_a"),
      sum(when(!col("__a"), 1L).otherwise(0L)).as("n_b"))
    sizes.crossJoin(broadcast(loHi))
      .filter(col("n_a") > 0 && col("n_b") > 0)
      .select(col("n_a"), col("n_b"),
        col("__Wt").cast("long").as("n_pairs"),
        round((col("__lo") + col("__hi")) / 2.0, 6).as("hl_shift"))
  }

  /**
   * MOOD'S SCALE TEST — "is group A more SPREAD OUT than group B",
   * rank-based: M = Σ_{i∈A}(rᵢ − (n+1)/2)², weighting each A-rank by
   * its squared distance from the center — a sample whose ranks crowd
   * the extremes scores high. The dispersion twin of [[mannWhitneyU]]
   * (same machinery, squared-deviation scores instead of raw ranks):
   * use it when two slices agree on the median but one is wilder —
   * Levene asks this with moments (outlier-fragile), Mood with ranks.
   * Mid-ranks under ties; z uses the classical no-ties moments
   * E = n_a(n²−1)/12, Var = n_a·n_b(n+1)(n²−4)/180 (mildly
   * conservative under heavy ties — the [[pageTrend]] reading).
   * PRE-BIN unbounded continuous values. Emits one row (n_a, n_b,
   * m_stat, z, direction ∈ wider | narrower | none), m 2dp, z 6dp.
   *
   * Deterministic: doubled ranks keep 4·(r−(n+1)/2)² = (r2−(n+1))²
   * exact-integer; decimal sums; one pinned double chain.
   *
   * Scale: the [[mannWhitneyU]] shape — a support histogram ranked by
   * the distributed kernel + a one-row reduce.
   */
  def moodScaleTest(df: DataFrame, valueCol: String, groupCol: String,
                    groupA: String, groupB: String): DataFrame = {
    val dec = dec380
    val kept = df
      .filter(col(groupCol) === groupA || col(groupCol) === groupB)
      .filter(col(valueCol).isNotNull)
    val counts = kept
      .groupBy(col(valueCol).as("__v"))
      .agg(sum(when(col(groupCol) === groupA, 1L).otherwise(0L)).as("ca"),
        sum(when(col(groupCol) === groupB, 1L).otherwise(0L)).as("cb"))
      .withColumn("__t", col("ca") + col("cb"))
    val ranked = doubledRanks(counts, "__v", "__t",
      probe = Some(kept.select(col(valueCol).as("__v"))))
    val tot = ranked.agg(sum(col("ca")).as("na"), sum(col("cb")).as("nb"))
    val m = ranked.crossJoin(broadcast(tot))
      .select(col("na"), col("nb"),
        (col("ca").cast(dec) *
          (col("__r2").cast(dec) - (col("na") + col("nb") + 1).cast(dec)) *
          (col("__r2").cast(dec) - (col("na") + col("nb") + 1).cast(dec)))
          .as("__m4"))
      .groupBy("na", "nb").agg(sum(col("__m4")).as("__sm4"))
    val na = col("na").cast("double"); val nb = col("nb").cast("double")
    val n = na + nb
    val mStat = col("__sm4").cast("double") / 4.0
    val e = na * (n * n - 1.0) / 12.0
    val v = na * nb * (n + 1.0) * (n * n - 4.0) / 180.0
    val mR = round(mStat, 2)
    m.filter(col("na") > 0 && col("nb") > 0)
      .select(col("na").as("n_a"), col("nb").as("n_b"), mR.as("m_stat"),
        when(v > 0, round((mStat - e) / sqrt(v), 6))
          .otherwise(lit(null).cast("double")).as("z"),
        when(v <= 0, "none")
          .when(mStat > e, "wider").when(mStat < e, "narrower")
          .otherwise("none").as("direction"))
  }

  /**
   * INDEX OF DISPERSION (Fano factor) per group — variance-to-mean
   * ratio of per-unit counts on the DENSE group × unit grid: 1 =
   * Poisson (events land independently), > 1 = bursty/clumped
   * (retries, bots, batch jobs), < 1 = regular (rate-limited,
   * scheduled). The burstiness screen a traffic QC runs per segment
   * before trusting any Poisson-based alert threshold. Units with no
   * observation count as TRUE ZEROS (the dense-grid convention —
   * a day with no errors is an observation of zero errors). Emits one
   * row per group: (group, n_units, mean_count, variance, dispersion),
   * 6dp, ordered; single-unit or zero-mean groups emit NULLs.
   *
   * Deterministic: counts exact; sample variance via the exact
   * integer identity (n·Σc² − (Σc)²)/(n(n−1)) in DECIMAL; pinned
   * divisions per group row.
   *
   * Scale: one (group, unit) count aggregate + a bounded
   * groups × units dense cross + a group rollup — no windows; the
   * corpus streams once.
   */
  def dispersionIndex(df: DataFrame, groupCol: String,
                      unitCol: String): DataFrame = {
    val dec = dec380
    val cells = df
      .filter(col(groupCol).isNotNull && col(unitCol).isNotNull)
      .groupBy(col(groupCol).as("__g"), col(unitCol).as("__u"))
      .agg(count(lit(1)).as("__c"))
    val groups = cells.select("__g").distinct()
    val units = cells.select("__u").distinct()
    val dense = groups.crossJoin(units)
      .join(cells, Seq("__g", "__u"), "left")
      .withColumn("__c", coalesce(col("__c"), lit(0L)))
    val g = dense.groupBy("__g")
      .agg(count(lit(1)).as("n_units"), sum(col("__c").cast(dec)).as("__s"),
        sum(col("__c").cast(dec) * col("__c").cast(dec)).as("__s2"))
    val nD = col("n_units").cast(dec)
    val varNum = (nD * col("__s2") - col("__s") * col("__s")).cast("double")
    val mean = col("__s").cast("double") / col("n_units").cast("double")
    val variance = varNum /
      (col("n_units").cast("double") * (col("n_units") - 1).cast("double"))
    g.select(col("__g").as(groupCol), col("n_units"),
        round(mean, 6).as("mean_count"),
        when(col("n_units") > 1, round(variance, 6))
          .otherwise(lit(null).cast("double")).as("variance"),
        when(col("n_units") > 1 && mean > 0, round(variance / mean, 6))
          .otherwise(lit(null).cast("double")).as("dispersion"))
      .orderBy(groupCol)
  }

  /**
   * QUADE TEST — the WEIGHTED Friedman: blocks whose treatments
   * actually differ (large within-block RANGE) get proportionally
   * more say; near-tied blocks, which contribute mostly rank noise to
   * [[friedmanQ]], are down-weighted. The more powerful choice at
   * small k when block magnitudes are comparable across blocks (the
   * standard guidance: Quade for k ≤ 4–5, Friedman beyond). Same
   * complete-block contract (k rows AND k distinct treatments).
   * F = (b−1)·ΣTⱼ² / (b·ΣT² − ΣTⱼ²) over the doubled-integer scores
   * T_ij = q2ᵢ·(r2ᵢⱼ − (k+1)) (block-range mid-ranks × centered
   * within-block mid-ranks — the doubling cancels in F). Emits one
   * row (n_blocks, k, f_stat), 6dp; a degenerate denominator (one
   * block, or all scores identical) emits NULL.
   *
   * Deterministic: both rank maps are exact doubled integers; ΣT²
   * and ΣTⱼ² sum in DECIMAL; one division.
   *
   * Scale: [[friedmanQ]]'s block-partitioned k-row windows + ONE
   * block-level rank window (input = one row per block — the day-grid
   * bound) + a k-row reduce.
   */
  def quadeTest(df: DataFrame, blockCol: String, treatmentCol: String,
                valueCol: String): DataFrame = {
    val dec = dec380
    val base = df.select(col(blockCol).as("__blk"),
        col(treatmentCol).as("__trt"), col(valueCol).cast("double").as("__v"))
      .filter(col("__blk").isNotNull && col("__trt").isNotNull &&
        col("__v").isNotNull)
    val k = base.agg(countDistinct(col("__trt")).as("__k"))
    val wBlk = Window.partitionBy("__blk")
    val complete = base
      .withColumn("__bk", count(lit(1)).over(wBlk))
      .withColumn("__bkd", size(collect_set(col("__trt")).over(wBlk)))
      .crossJoin(broadcast(k))
      .filter(col("__bk") === col("__k") && col("__bkd") === col("__k"))
      .drop("__bkd")
    val wRank = Window.partitionBy("__blk").orderBy(col("__v").asc)
    val wTie = Window.partitionBy("__blk", "__v")
    val ranked = complete
      .withColumn("__r2",
        (rank().over(wRank) - 1).cast("long") * 2 +
          count(lit(1)).over(wTie) + 1)
    // block weights: doubled mid-ranks of the within-block RANGE over
    // the block-level frame (one row per block — grid-bounded)
    val ranges = ranked.groupBy("__blk")
      .agg((max(col("__v")) - min(col("__v"))).as("__rng"))
    val wQ = Window.orderBy(col("__rng").asc)
    val wQt = Window.partitionBy("__rng")
    val weights = ranges
      .withColumn("__q2",
        (rank().over(wQ) - 1).cast("long") * 2 +
          count(lit(1)).over(wQt) + 1)
      .select("__blk", "__q2")
    val scored = ranked.join(weights, "__blk")
      .select(col("__trt"), col("__k"),
        (col("__q2").cast(dec) *
          (col("__r2").cast(dec) - (col("__k") + 1).cast(dec))).as("__T"))
    val byT = scored.groupBy("__trt", "__k")
      .agg(sum(col("__T")).as("__Tj"), sum(col("__T") * col("__T")).as("__T2"),
        count(lit(1)).as("__b"))
    val m = byT.groupBy("__k", "__b")
      .agg(sum(col("__Tj") * col("__Tj")).as("__sTj2"),
        sum(col("__T2")).as("__sT2"))
    val bD = col("__b").cast(dec)
    val num = (bD - 1) * col("__sTj2")
    val den = bD * col("__sT2") - col("__sTj2")
    m.filter(col("__k") > 1 && col("__b") > 0)
      .select(col("__b").as("n_blocks"), col("__k").as("k"),
        when(den.cast("double") > 0,
          round(num.cast("double") / den.cast("double"), 6))
          .otherwise(lit(null).cast("double")).as("f_stat"))
  }

  /**
   * NELSON–AALEN cumulative hazard — the integrated-risk companion to
   * [[kaplanMeier]]: H(t) = Σ_{tᵢ≤t} dᵢ/nᵢ over the same
   * censoring-aware risk sets. Where KM's product-limit curve answers
   * "what fraction survives past t", H(t) is the natural scale for
   * comparing and SUMMING risk (hazards add across competing causes;
   * survival probabilities don't), and exp(−H) is the second standard
   * survival estimate (≥ KM's, asymptotically equal). Emits one row
   * per distinct duration: (t, n_risk, n_events, n_censored,
   * cum_hazard 6dp, na_survival 6dp), ordered by t.
   *
   * Deterministic: counts exact; each step dᵢ/nᵢ rounds to 8dp and
   * cumulates through DECIMAL; exp runs once per output row on the
   * decimal-carried sum.
   *
   * Scale: identical to [[kaplanMeier]] — one duration histogram + a
   * cumulative window over the bounded duration grid.
   */
  def nelsonAalen(df: DataFrame, durationCol: String,
                  eventCol: String): DataFrame = {
    val dstep = org.apache.spark.sql.types.DecimalType(18, 8)
    val counts = df
      .filter(col(durationCol).isNotNull && col(eventCol).isNotNull)
      .groupBy(col(durationCol).cast("long").as("t"))
      .agg(sum(when(col(eventCol), 1L).otherwise(0L)).as("n_events"),
        sum(when(col(eventCol), 0L).otherwise(1L)).as("n_censored"))
    val tot = counts.agg(sum(col("n_events") + col("n_censored")).as("__n"))
    // unpartitioned window BOUND: duration-grid histogram rows
    val wPrev = Window.orderBy(col("t").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val wCum = Window.orderBy(col("t").asc)
      .rowsBetween(Window.unboundedPreceding, 0)
    counts.crossJoin(broadcast(tot))
      .withColumn("n_risk",
        col("__n") - coalesce(sum(col("n_events") + col("n_censored"))
          .over(wPrev), lit(0L)))
      .withColumn("__h",
        sum(round(col("n_events").cast("double") /
          col("n_risk").cast("double"), 8).cast(dstep)).over(wCum))
      .select(col("t"), col("n_risk"), col("n_events"), col("n_censored"),
        round(col("__h").cast("double"), 6).as("cum_hazard"),
        round(exp(-col("__h").cast("double")), 6).as("na_survival"))
      .orderBy("t")
  }

  /**
   * RESTRICTED MEAN SURVIVAL TIME — the AREA under the [[kaplanMeier]]
   * curve up to horizon τ: "how many of the next τ days does a unit
   * survive, on average". The single-number summary the median
   * ([[medianSurvival]]'s readout) cannot give when the curve never
   * crosses 0.5, and the standard censoring-robust effect scale for
   * comparing retention curves ("arm A keeps users 3.1 of the first
   * 30 days longer"). RMST(τ) = Σ segments S(tᵢ)·(min(tᵢ₊₁, τ) − tᵢ)
   * plus the leading [0, t_min) segment at S = 1. τ beyond the last
   * observed time extends the final S flat (report τ conservatively
   * within follow-up). Emits one row (tau, n, rmst), rmst 6dp.
   *
   * Deterministic: each segment is the 6dp-pinned KM survival times an
   * integer width, rounded 8dp and decimal-summed.
   *
   * Scale: the [[kaplanMeier]] shape — a duration histogram +
   * cumulative windows over the bounded duration grid + a lead window
   * + a one-row reduce.
   */
  def rmst(df: DataFrame, durationCol: String, eventCol: String,
           tau: Long): DataFrame = {
    require(tau > 0, s"tau must be > 0, got $tau")
    val dterm = org.apache.spark.sql.types.DecimalType(24, 8)
    val km = kaplanMeier(df, durationCol, eventCol)
    // unpartitioned window BOUND: duration-grid histogram rows
    val wLead = Window.orderBy(col("t").asc)
    val seg = km
      .withColumn("__next", coalesce(lead(col("t"), 1).over(wLead),
        greatest(col("t"), lit(tau))))
      .withColumn("__w",
        greatest(least(col("__next"), lit(tau)) - col("t"), lit(0L)))
      .select(round(col("survival") * col("__w").cast("double"), 8)
        .cast(dterm).as("__a"))
      .agg(coalesce(sum(col("__a")), lit(0).cast(dterm)).as("__area"))
    // leading [0, min t) segment at survival 1, plus the unit count
    val head = km.agg(least(coalesce(min(col("t")), lit(0L)), lit(tau))
        .cast("double").as("__lead"),
      coalesce(sum(col("n_events") + col("n_censored")), lit(0L)).as("n"))
    seg.crossJoin(broadcast(head))
      .filter(col("n") > 0)
      .select(lit(tau).as("tau"), col("n"),
        round(col("__area").cast("double") + col("__lead"), 6).as("rmst"))
  }

  /**
   * CUMULATIVE INCIDENCE under COMPETING RISKS (Aalen–Johansen) — the
   * probability of failing FROM EACH CAUSE by time t when causes
   * compete for the same units ("converted" vs "churned": a churned
   * user can never convert — 1 − KM per cause OVERSTATES every cause
   * because it treats the others' failures as censoring). CIF_c(t) =
   * Σ_{s≤t} S(s−)·d_c(s)/n(s) with S the ALL-CAUSE Kaplan–Meier;
   * Σ_c CIF_c(∞) + S(∞-mass) = 1 by construction. Input is one row
   * per unit: (duration, cause) with cause NULL meaning censored.
   * Emits the long-format grid (t, cause, n_risk, n_events, cif 6dp),
   * ordered, one row per (event time, cause that fired there).
   *
   * Deterministic: risk/death counts exact off cumulative windows;
   * S(s−) is the 8dp-log-summed KM product ([[kaplanMeier]]'s chain)
   * one step back; each increment rounds 8dp and decimal-sums per
   * cause.
   *
   * Scale: one (t, cause) histogram + cumulative windows over the
   * bounded duration grid (t-grid unpartitioned — the KM bound; the
   * per-cause cumsum partitions by cause); the unit frame streams
   * once.
   */
  def cumulativeIncidence(df: DataFrame, durationCol: String,
                          causeCol: String): DataFrame = {
    val dterm = org.apache.spark.sql.types.DecimalType(24, 8)
    val units = df.filter(col(durationCol).isNotNull)
      .select(col(durationCol).cast("long").as("t"),
        col(causeCol).cast("string").as("__c"))
    // all-cause per-time totals: events (any cause) + censored
    val byT = units.groupBy("t").agg(
      sum(when(col("__c").isNotNull, 1L).otherwise(0L)).as("__d"),
      sum(when(col("__c").isNull, 1L).otherwise(0L)).as("__cens"))
    val tot = byT.agg(sum(col("__d") + col("__cens")).as("__n"))
    // unpartitioned window BOUND: duration-grid histogram rows
    val wPrev = Window.orderBy(col("t").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val wCum = Window.orderBy(col("t").asc)
      .rowsBetween(Window.unboundedPreceding, 0)
    val risk = byT.crossJoin(broadcast(tot))
      .withColumn("n_risk",
        col("__n") - coalesce(sum(col("__d") + col("__cens"))
          .over(wPrev), lit(0L)))
      .withColumn("__f",
        round(lit(1.0) - col("__d").cast("double") /
          col("n_risk").cast("double"), 8))
      // S(s−): the KM product over STRICTLY EARLIER times (log-sum
      // chain, the kaplanMeier discipline; empty prefix = 1)
      .withColumn("__sprev",
        round(exp(coalesce(sum(
          round(log(when(col("__f") > 0, col("__f")).otherwise(1.0)), 8))
          .over(wPrev), lit(0.0))), 8))
    // per-(t, cause) deaths joined onto the all-cause risk grid
    val dc = units.filter(col("__c").isNotNull)
      .groupBy("t", "__c").agg(count(lit(1)).as("n_events"))
    val wCause = Window.partitionBy("__c").orderBy(col("t").asc)
      .rowsBetween(Window.unboundedPreceding, 0)
    dc.join(risk.select("t", "n_risk", "__sprev"), "t")
      .withColumn("__inc",
        round(col("__sprev") * col("n_events").cast("double") /
          col("n_risk").cast("double"), 8).cast(dterm))
      .withColumn("cif",
        round(sum(col("__inc")).over(wCause).cast("double"), 6))
      .select(col("t"), col("__c").as("cause"), col("n_risk"),
        col("n_events"), col("cif"))
      .orderBy("t", "cause")
  }

  /**
   * CAPTURE–RECAPTURE population estimate (Chapman's Lincoln–Petersen)
   * — "how many exist IN TOTAL, given what two independent sightings
   * each saw": mark the keys observed in window/source A, re-observe in
   * B, and the overlap rate calibrates the unseen mass — N̂ =
   * (n_a+1)(n_b+1)/(m+1) − 1. The ecology estimator is exactly the
   * coverage question a pipeline asks of two crawls, two vendors, or
   * two time slices ("how many customers/documents exist that NEITHER
   * list caught") — the model-based companion to `q_kmv_overlap`'s
   * exact observed overlap. Emits one row (n_a, n_b, n_both,
   * n_observed, n_hat, ci_lo, ci_hi) — point estimate and the ±1.96·SE
   * Chapman interval, 6dp; keys seen by neither list are (necessarily)
   * excluded by construction.
   *
   * Deterministic: per-key presence flags and the four totals are
   * exact integers; N̂ and Var(N̂) are single divisions of exact
   * decimal products ((n_a+1)(n_b+1)(n_a−m)(n_b−m) /
   * ((m+1)²(m+2))); one pinned double chain.
   *
   * Scale: one groupBy(key) presence aggregate (partial-aggregating —
   * the flags OR map-side) + a 1-row reduce. Independence caveat is
   * the estimator's, not the plan's: correlated sightings bias N̂ low.
   */
  def captureRecapture(df: DataFrame, keyCol: String, aCol: String,
                       bCol: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val per = df.filter(col(keyCol).isNotNull)
      .groupBy(col(keyCol))
      .agg(max(when(col(aCol), 1L).otherwise(0L)).as("__a"),
        max(when(col(bCol), 1L).otherwise(0L)).as("__b"))
      .filter(col("__a") + col("__b") > 0)
    val m = per.agg(sum(col("__a")).as("n_a"), sum(col("__b")).as("n_b"),
      sum(col("__a") * col("__b")).as("n_both"),
      count(lit(1)).as("n_observed"))
    val aD = (col("n_a") + 1).cast(dec)
    val bD = (col("n_b") + 1).cast(dec)
    val mD = (col("n_both") + 1).cast(dec)
    val nHat = (aD * bD).cast("double") / (col("n_both") + 1) - 1.0
    val varNum = aD * bD * (col("n_a") - col("n_both")).cast(dec) *
      (col("n_b") - col("n_both")).cast(dec)
    val se = sqrt(varNum.cast("double") /
      (mD * mD * (col("n_both") + 2).cast(dec)).cast("double"))
    m.select(col("n_a"), col("n_b"), col("n_both"), col("n_observed"),
      round(nHat, 6).as("n_hat"),
      round(nHat - lit(1.96) * se, 6).as("ci_lo"),
      round(nHat + lit(1.96) * se, 6).as("ci_hi"))
  }

  /**
   * CRAMÉR–VON MISES two-sample statistic — the L² member of the
   * distribution-gap trio: [[ksStatistic]] reads the WORST CDF gap
   * (one point can carry it), [[wasserstein1D]] the total mass-moved
   * distance (scale-dependent), CvM the squared gap INTEGRATED over
   * the pooled sample — sensitive to many small persistent deviations
   * KS misses, scale-free where W₁ is not. Anderson's two-sample form
   * T = nm/N² · Σ_pooled (F_a(z) − F_b(z))², summed over all N pooled
   * observations with multiplicity. Emits one row (n_a, n_b, t_stat
   * 6dp); empty slices emit no row. Pre-bin unbounded continuous
   * values (the KS convention).
   *
   * Deterministic: ECDF steps are divisions of exact integers; each
   * pooled-point term t·(F_a − F_b)² rounds to 8dp into a decimal sum.
   *
   * Scale: the [[ksStatistic]] shape — one support-sized histogram +
   * one cumulative window over the sorted support + a one-row reduce.
   */
  def cramerVonMises(df: DataFrame, valueCol: String, groupCol: String,
                     groupA: String, groupB: String): DataFrame = {
    val dterm = org.apache.spark.sql.types.DecimalType(24, 8)
    val kept = df
      .filter(col(groupCol) === groupA || col(groupCol) === groupB)
      .filter(col(valueCol).isNotNull)
    val counts = kept
      .groupBy(col(valueCol).cast("double").as("__v"))
      .agg(sum(when(col(groupCol) === groupA, 1L).otherwise(0L)).as("ca"),
        sum(when(col(groupCol) === groupB, 1L).otherwise(0L)).as("cb"))
    val tot = counts.agg(sum(col("ca")).as("__ta"), sum(col("cb")).as("__tb"))
    // unpartitioned window BOUND: pre-binned distinct-value support
    val wCum = Window.orderBy(col("__v").asc)
      .rowsBetween(Window.unboundedPreceding, 0)
    val gap = col("__fa").cast("double") / col("__ta") -
      col("__fb").cast("double") / col("__tb")
    val terms = counts.crossJoin(broadcast(tot))
      .withColumn("__fa", sum(col("ca")).over(wCum))
      .withColumn("__fb", sum(col("cb")).over(wCum))
      .filter(col("__ta") > 0 && col("__tb") > 0)
      .select(col("__ta"), col("__tb"),
        round((col("ca") + col("cb")).cast("double") * gap * gap, 8)
          .cast(dterm).as("__t"))
    val nD = col("__ta").cast("double"); val mD = col("__tb").cast("double")
    terms.groupBy("__ta", "__tb")
      .agg(sum(col("__t")).as("__sum"))
      .select(col("__ta").as("n_a"), col("__tb").as("n_b"),
        round(nD * mD / ((nD + mD) * (nD + mD)) *
          col("__sum").cast("double"), 6).as("t_stat"))
  }

  /**
   * CUPED variance-reduced experiment readout — the modern A/B-test
   * adjustment: each unit's post-period metric is shifted by
   * θ·(pre − pre̅) where θ = cov(pre, post)/var(pre), which removes the
   * pre-existing between-unit variance the randomization froze in and
   * leaves the treatment effect untouched (E[adjustment] = 0 per arm
   * under randomization). Input is the PER-UNIT frame (one row per
   * unit: arm, pre-period metric, post-period metric — aggregate
   * events to units upstream). Emits one row per arm: (arm, n_units,
   * mean_post, mean_adj, theta, var_reduction) — mean_adj is the
   * number to diff between arms; var_reduction = ρ²(pre, post) is the
   * fraction of metric variance CUPED removed (how much smaller the
   * confidence interval got). Constant pre (zero variance) degrades
   * gracefully: θ/var_reduction NULL, mean_adj = mean_post.
   *
   * Deterministic by construction: all five pooled moments and the
   * per-arm sums are exact integer cents in DECIMAL(38,0); θ rounds to
   * 8dp FIRST and the adjusted mean is computed from the rounded θ, so
   * both engines share the exact same double path.
   *
   * Scale: one pooled moment aggregate + one per-arm aggregate over
   * the unit frame (already |units| rows), θ math on |arms| rows.
   */
  def cupedAdjust(df: DataFrame, armCol: String, preCol: String,
                  postCol: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val base = df
      .select(col(armCol).as("arm"), cents(col(preCol)).as("__x"),
        cents(col(postCol)).as("__y"))
      .filter(col("arm").isNotNull && col("__x").isNotNull &&
        col("__y").isNotNull)
    val x = col("__x").cast(dec); val y = col("__y").cast(dec)
    val pooled = base.agg(count(lit(1)).as("n"), sum(x).as("sx"),
      sum(y).as("sy"), sum(x * x).as("sxx"), sum(y * y).as("syy"),
      sum(x * y).as("sxy"))
    val arms = base.groupBy("arm").agg(count(lit(1)).as("n_units"),
      sum(x).as("ax"), sum(y).as("ay"))
    val nD = col("n").cast(dec)
    val dx = nD * col("sxx") - col("sx") * col("sx")
    val dy = nD * col("syy") - col("sy") * col("sy")
    val num = nD * col("sxy") - col("sx") * col("sy")
    val thetaR = round(num.cast("double") / dx.cast("double"), 8)
    val meanPost = col("ay").cast("double") / col("n_units").cast("double")
    val meanPreArm = col("ax").cast("double") / col("n_units").cast("double")
    val meanPrePool = col("sx").cast("double") / col("n").cast("double")
    arms.crossJoin(broadcast(pooled))
      .select(col("arm"), col("n_units"),
        round(meanPost / 100.0, 6).as("mean_post"),
        when(dx > 0,
          round((meanPost - thetaR * (meanPreArm - meanPrePool)) / 100.0, 6))
          .otherwise(round(meanPost / 100.0, 6)).as("mean_adj"),
        when(dx > 0, thetaR)
          .otherwise(lit(null).cast("double")).as("theta"),
        when(dx > 0 && dy > 0,
          round(num.cast("double") * num.cast("double") /
            (dx.cast("double") * dy.cast("double")), 6))
          .otherwise(lit(null).cast("double")).as("var_reduction"))
      .orderBy("arm")
  }

  /**
   * WELCH'S two-sample t-test — the continuous-outcome A/B readout
   * beside [[graft.SparkEntry]]'s two-proportion z (rates) and
   * [[cupedAdjust]] (variance reduction): does the metric MEAN differ
   * between arms, without assuming equal variances (Welch beats
   * Student's t whenever arm sizes or spreads differ, which is always).
   * Emits one row: (n_a, n_b, mean_a, mean_b, diff, se, t,
   * df_welch) — t 6dp, df via Welch–Satterthwaite. Degenerate inputs
   * (an arm with < 2 rows, or both variances zero) emit NULL t/df
   * rather than Infinity/NaN (the [[ksStatistic]] convention).
   *
   * Deterministic: per-arm n/Σc/Σc² are exact integer cents in
   * DECIMAL(38,0); means, the two variance terms, se, t and df are ONE
   * pinned double chain both engines replay division-for-division.
   *
   * Scale: one conditional-aggregation pass (partial-aggregating, no
   * shuffle beyond the 1-row rollup) — the same shape as reconcile.
   */
  def welchTTest(df: DataFrame, armCol: String,
                 valueCol: String): DataFrame =
    welchCore(df, Nil, armCol, valueCol)

  /**
   * [[welchTTest]] per SEGMENT — the "which segments moved" readout: one
   * Welch row per group (the experiment headline is the ungrouped form;
   * the per-segment table is where the effect localizes or reverses —
   * Simpson's-inversion hunting). Same moments, same pinned chain, same
   * degenerate-input NULLs; still ONE partial-aggregating pass, output
   * |segments| rows ordered by segment.
   */
  def welchTTestBy(df: DataFrame, segCol: String, armCol: String,
                   valueCol: String): DataFrame =
    welchCore(df, Seq(segCol), armCol, valueCol)

  private def welchCore(df: DataFrame, segCols: Seq[String], armCol: String,
                        valueCol: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val base = df
      .select(segCols.map(c => col(c).as(s"__seg_$c")) ++ Seq(
        col(armCol).cast("boolean").as("__a"),
        cents(col(valueCol)).cast(dec).as("__c")): _*)
      .filter(col("__a").isNotNull && col("__c").isNotNull)
    def side(flag: Column, tag: String) = Seq(
      sum(when(flag, lit(1L)).otherwise(0L)).as(s"n_$tag"),
      sum(when(flag, col("__c")).otherwise(lit(0).cast(dec))).as(s"s_$tag"),
      sum(when(flag, col("__c") * col("__c"))
        .otherwise(lit(0).cast(dec))).as(s"q_$tag"))
    val aggs = side(col("__a"), "a") ++ side(!col("__a"), "b")
    val grouped =
      if (segCols.isEmpty) base.agg(aggs.head, aggs.tail: _*)
      else base.groupBy(segCols.map(c => col(s"__seg_$c")): _*)
        .agg(aggs.head, aggs.tail: _*)
    val m = grouped
    def stats(tag: String): (Column, Column, Column) = {
      val n = col(s"n_$tag").cast("double")
      val s = col(s"s_$tag").cast("double")
      val q = col(s"q_$tag").cast("double")
      // mean in value units; sample variance over cents² / 100²
      val mean = s / n / 100.0
      val variance = (q - s * s / n) / (n - 1.0) / 10000.0
      (n, mean, variance)
    }
    val (na, ma, va) = stats("a")
    val (nb, mb, vb) = stats("b")
    val seSq = va / na + vb / nb
    val dfW = seSq * seSq /
      (va * va / (na * na * (na - 1.0)) + vb * vb / (nb * nb * (nb - 1.0)))
    val ok = col("n_a") >= 2L && col("n_b") >= 2L
    val okVar = ok && (va > 0.0 || vb > 0.0)
    val out = m.select(segCols.map(c => col(s"__seg_$c").as(c)) ++ Seq(
      col("n_a"), col("n_b"),
      when(col("n_a") > 0, round(ma, 6)).as("mean_a"),
      when(col("n_b") > 0, round(mb, 6)).as("mean_b"),
      when(ok, round(ma - mb, 6)).as("diff"),
      when(okVar, round(sqrt(seSq), 6)).as("se"),
      when(okVar, round((ma - mb) / sqrt(seSq), 6)).as("t"),
      when(okVar, round(dfW, 6)).as("df_welch")): _*)
    if (segCols.isEmpty) out else out.orderBy(segCols.map(col): _*)
  }

  /**
   * TRIMMED mean per group — the mean of values inside the per-group
   * [`lo`, `hi`] quantile band: the robust location estimate between
   * the raw mean (dragged by any outlier) and the median (ignores all
   * magnitude). Where [[winsorize]] CLIPS the tails into the bounds,
   * the trim DROPS them. Emits (group, n, n_used, tmean), tmean 6dp;
   * bounds round to 6dp before filtering so the kept set is
   * reproducible across engines.
   *
   * Deterministic: kept values sum as exact cents; one double division
   * per group row.
   *
   * Scale: one per-group percentile agg (|groups| rows broadcast back)
   * + one counting pass — the winsorize shape; `percentile_approx`
   * drops in at extreme widths.
   */
  def trimmedMean(df: DataFrame, groupCol: String, valueCol: String,
                  lo: Double, hi: Double): DataFrame = {
    require(lo >= 0 && hi <= 1 && lo < hi, s"bad quantile range [$lo,$hi]")
    val dec = org.apache.spark.sql.types.DecimalType(28, 0)
    val base = df.select(col(groupCol), col(valueCol).as("__v"))
      .filter(col("__v").isNotNull)
    val bounds = base.groupBy(groupCol).agg(
      count(lit(1)).as("n"),
      round(expr(s"percentile(__v, $lo)"), 6).as("__lo"),
      round(expr(s"percentile(__v, $hi)"), 6).as("__hi"))
    base.join(broadcast(bounds), Seq(groupCol))
      .filter(col("__v") >= col("__lo") && col("__v") <= col("__hi"))
      .groupBy(col(groupCol), col("n"))
      .agg(count(lit(1)).as("n_used"),
        sum(cents(col("__v")).cast(dec)).as("__s"))
      .select(col(groupCol), col("n"), col("n_used"),
        round(col("__s").cast("double") / col("n_used").cast("double")
          / 100.0, 6).as("tmean"))
  }

  /**
   * MAD robust outlier audit per group — median absolute deviation, the
   * outlier detector that (unlike mean/stddev z-scores) is not itself
   * dragged by the outliers it hunts. Per group: median, MAD, and the
   * count of rows with |v − med| > k · 1.4826 · MAD (1.4826 ≈ the
   * normal-consistency constant, so k reads as "k sigmas"). Emits
   * (group, n, med, mad, n_outliers), med/mad 6dp. An all-identical
   * group has MAD 0 — every deviating row would be an outlier, of which
   * there are none, so n_outliers = 0 falls out naturally.
   *
   * Scale: two exact-percentile aggregates (group-sized outputs) + one
   * counting pass with the |groups|-row maps broadcast back — the
   * corpus streams twice, never sorts. For corpora where exact
   * percentile is too wide, `percentile_approx` drops in unchanged
   * (the winsorize note).
   */
  def madOutliers(df: DataFrame, groupCol: String, valueCol: String,
                  k: Double = 3.0): DataFrame = {
    val base = df.select(col(groupCol), col(valueCol).as("__v"))
      .filter(col("__v").isNotNull)
    val med = base.groupBy(groupCol)
      .agg(round(expr("percentile(__v, 0.5)"), 6).as("med"))
    val dev = base.join(broadcast(med), Seq(groupCol))
      .withColumn("__d", abs(col("__v") - col("med")))
    val mad = dev.groupBy(groupCol)
      .agg(round(expr("percentile(__d, 0.5)"), 6).as("mad"))
    dev.join(broadcast(mad), Seq(groupCol))
      .groupBy(col(groupCol), col("med"), col("mad"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("__d") > lit(k) * 1.4826 * col("mad"), 1L)
          .otherwise(0L)).as("n_outliers"))
      .select(col(groupCol), col("n"), col("med"), col("mad"),
        col("n_outliers"))
  }

  /**
   * WEIGHTED quartiles per group — the quantity-aware distribution
   * report: "the median unit SHIPPED cost X" (each row weighted by how
   * many units it represents), not "the median line item cost X". The
   * weighted q-quantile is the smallest value whose cumulative weight
   * reaches q of the total — computed at q = 1/4, 1/2, 3/4 in ONE pass
   * so the three crossings can never disagree about the underlying CDF.
   *
   * `weightCol` must be integral-valued and positive (quantities,
   * counts, token budgets); rows with null value/weight or weight ≤ 0
   * are excluded. Emits (groupCol, total_weight, w_q1, w_median, w_q3).
   *
   * Deterministic: weights are exact longs and each crossing test is
   * the integer comparison 4·cumW ≥ k·totW — no double ever enters the
   * quantile decision, so tie order and partitioning cannot matter.
   *
   * Scale: the (group, value) histogram pre-aggregate bounds the window
   * input by the distinct-value support (the [[ksStatistic]]
   * discipline), then one partitioned cumulative window + a final
   * group rollup — a single shuffle on the group key.
   */
  def weightedQuartiles(df: DataFrame, groupCol: String, valueCol: String,
                        weightCol: String): DataFrame = {
    val h = df
      .filter(col(valueCol).isNotNull && col(weightCol).isNotNull &&
        col(weightCol) > 0)
      .groupBy(col(groupCol), col(valueCol).as("__v"))
      .agg(sum(col(weightCol).cast("long")).as("__w"))
    val cumW = Window.partitionBy(groupCol).orderBy(col("__v").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val totW = Window.partitionBy(groupCol)
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    h.select(col(groupCol), col("__v"),
        sum(col("__w")).over(cumW).as("__cw"),
        sum(col("__w")).over(totW).as("__tw"))
      .groupBy(col(groupCol))
      .agg(max(col("__tw")).as("total_weight"),
        min(when(col("__cw") * 4 >= col("__tw"), col("__v"))).as("w_q1"),
        min(when(col("__cw") * 2 >= col("__tw"), col("__v")))
          .as("w_median"),
        min(when(col("__cw") * 4 >= col("__tw") * 3, col("__v")))
          .as("w_q3"))
  }

  /**
   * SPLIT-CONFORMAL prediction interval — distribution-free uncertainty
   * for ANY point predictor: fit on train, take q̂ = the
   * ⌈(n_cal+1)·cover⌉-th smallest absolute calibration residual, and
   * |y − ŷ| ≤ q̂ is guaranteed ≥ cover coverage on exchangeable data
   * regardless of model or distribution (Vovk; the modern ML-serving
   * uncertainty standard). The model here is the per-group mean — the
   * point is the CALIBRATION machinery, which applies unchanged to any
   * predictor whose ŷ rides a column.
   *
   * `df` carries (groupCol, centsCol exact long, splitCol long);
   * `trainSplits` fit the group means, `calSplit` calibrates q̂,
   * `testSplit` measures held-out empirical coverage. `coverNum/
   * coverDen` is the target (e.g. 9/10) kept RATIONAL so the rank
   * threshold k = ⌈(n+1)·num/den⌉ is exact integer arithmetic.
   *
   * One row: (n_cal, n_test, k_rank, q_hat_cents, coverage 6dp,
   * target). Deterministic: residuals are half-up-rounded cents
   * (|long − pinned-double mean| → one round), q̂ is an exact order
   * statistic via cumulative counts over the sorted residual support
   * (the [[ksStatistic]] discipline), never an interpolating
   * percentile; coverage is an integer ratio.
   *
   * Scale: one group aggregate (model), two filtered passes that
   * partial-aggregate to a residual histogram + a 1-row rollup; the
   * only window runs over the residual SUPPORT. The model broadcast is
   * |groups| rows.
   */
  def conformalInterval(df: DataFrame, groupCol: String, centsCol: String,
                        splitCol: String, trainSplits: Seq[Long],
                        calSplit: Long, testSplit: Long,
                        coverNum: Int = 9, coverDen: Int = 10): DataFrame = {
    require(coverNum > 0 && coverNum < coverDen,
      s"bad coverage $coverNum/$coverDen")
    require(!trainSplits.contains(calSplit) &&
      !trainSplits.contains(testSplit) && calSplit != testSplit,
      "train/cal/test splits must be disjoint")
    val model = df.filter(col(splitCol).isin(trainSplits: _*))
      .groupBy(groupCol)
      .agg(sum(col(centsCol)).as("__sc"), count(lit(1)).as("__n"))
      .select(col(groupCol),
        (col("__sc").cast("double") / col("__n")).as("__pred"))
    def residuals(split: Long) = df.filter(col(splitCol) === split)
      .join(broadcast(model), groupCol)
      // unpartitioned window BOUND: rounded-residual histogram rows (value-range-bounded)
      .select(round(abs(col(centsCol) - col("__pred")), 0)
        .cast("long").as("__r"))
    val calH = residuals(calSplit).groupBy("__r")
      .agg(count(lit(1)).as("__c"))
    val nCal = calH.agg(sum(col("__c")).as("n_cal"),
      count(lit(1)).as("__support"))
    val w = Window.orderBy(col("__r").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // k = ⌈(n+1)·num/den⌉ in pure integers; q̂ = first residual whose
    // cumulative count reaches k (clamped to the max when k > n)
    val qHat = calH
      .select(col("__r"), sum(col("__c")).over(w).as("__cum"))
      .crossJoin(broadcast(nCal))
      .select(col("__r"), col("__cum"), col("n_cal"),
        expr(s"((n_cal + 1) * $coverNum + ${coverDen - 1}) div $coverDen")
          .as("k_rank"))
      .groupBy("n_cal", "k_rank")
      .agg(coalesce(min(when(col("__cum") >= col("k_rank"), col("__r"))),
        max(col("__r"))).as("q_hat_cents"))
    val test = residuals(testSplit)
      .crossJoin(broadcast(qHat))
      .agg(max(col("n_cal")).as("n_cal"), max(col("k_rank")).as("k_rank"),
        max(col("q_hat_cents")).as("q_hat_cents"),
        count(lit(1)).as("n_test"),
        sum(when(col("__r") <= col("q_hat_cents"), 1L).otherwise(0L))
          .as("__covered"))
    test.select(col("n_cal"), col("n_test"), col("k_rank"),
      col("q_hat_cents"),
      round(col("__covered").cast("double") / col("n_test"), 6)
        .as("coverage"),
      round(lit(coverNum).cast("double") / coverDen, 6).as("target"))
  }

  /**
   * INVERSE-PROPENSITY-WEIGHTED average treatment effect over discrete
   * strata — the reweighting member of the causal-readout family beside
   * stratification (`q_standardized_effect`), CUPED, and DiD: when
   * treatment assignment is imbalanced ACROSS strata, the naive mean
   * difference confounds stratum composition with the effect; IPW
   * reweights each observation by 1/P(its own treatment | stratum), so
   * both arms reconstruct the full population. Propensity here is the
   * exact empirical rate e_s = n_treated_s / n_s (discrete strata — no
   * model fit, no tuning).
   *
   * Emits one row: (n_total, n_used, n_strata, n_nonoverlap_strata,
   * ate_ipw, ate_hajek). NON-OVERLAP strata (e_s ∈ {0, 1} — positivity
   * violated, the weight is undefined) are DROPPED and counted, never
   * silently imputed. `ate_ipw` is the Horvitz–Thompson form
   * (Σ ty/e − Σ (1−t)y/(1−e)) / n_used; `ate_hajek` normalizes each arm
   * by its realized weight mass — the stable estimator when weights are
   * skewed (both agree on balanced designs).
   *
   * Determinism: per-row weighted terms y·n/n_t are 6dp-rounded then
   * DECIMAL-summed (order-invariant); the final divisions are one
   * pinned double chain.
   *
   * Scale: one stratum aggregate (strata-sized, broadcasts back) + ONE
   * conditional-aggregation pass — the reconcile shape; no window, no
   * corpus-sized join state.
   */
  def ipwAte(df: DataFrame, strataCol: String, treat: Column,
             yCol: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(28, 6)
    val base = df.filter(col(yCol).isNotNull && col(strataCol).isNotNull)
      .select(col(strataCol).as("__s"),
        when(treat, 1L).otherwise(0L).as("__t"),
        col(yCol).cast("double").as("__y"))
    val strata = base.groupBy("__s")
      .agg(count(lit(1)).as("__n"), sum(col("__t")).as("__nt"))
    val ov = col("__nt") > 0 && col("__nt") < col("__n")
    val z = lit(0).cast(dec)
    base.join(strata, "__s")
      .agg(
        count(lit(1)).as("n_total"),
        sum(when(ov, 1L).otherwise(0L)).as("__nu"),
        countDistinct(col("__s")).as("n_strata"),
        countDistinct(when(!ov, col("__s"))).as("n_nonoverlap_strata"),
        sum(when(ov && col("__t") === 1L,
          round(col("__y") * col("__n") / col("__nt"), 6).cast(dec))
          .otherwise(z)).as("__wt"),
        sum(when(ov && col("__t") === 0L,
          round(col("__y") * col("__n") / (col("__n") - col("__nt")), 6)
            .cast(dec)).otherwise(z)).as("__wc"),
        sum(when(ov && col("__t") === 1L,
          round(col("__n").cast("double") / col("__nt"), 6).cast(dec))
          .otherwise(z)).as("__mt"),
        sum(when(ov && col("__t") === 0L,
          round(col("__n").cast("double") / (col("__n") - col("__nt")), 6)
            .cast(dec)).otherwise(z)).as("__mc"))
      .select(col("n_total"), col("__nu").as("n_used"), col("n_strata"),
        col("n_nonoverlap_strata"),
        round((col("__wt").cast("double") - col("__wc").cast("double")) /
          col("__nu"), 6).as("ate_ipw"),
        round(col("__wt").cast("double") / col("__mt").cast("double") -
          col("__wc").cast("double") / col("__mc").cast("double"), 6)
          .as("ate_hajek"))
  }

  /**
   * POISSON-BOOTSTRAP confidence interval of the mean — estimator
   * uncertainty at corpus scale WITHOUT resampling the data: the
   * classical bootstrap draws n rows with replacement per replicate (R
   * extra scans, a shuffle each — dead at 100 TB); the Poisson
   * approximation gives each row an independent Poisson(1) multiplicity
   * per replicate instead, and a DETERMINISTIC fingerprint of
   * (id, replicate) supplies the randomness — so all R replicates are
   * conditional sums inside ONE pass, reproducible on any engine and
   * any partitioning (the hashSample discipline applied to uncertainty).
   *
   * Emits one row: (n_rows, mean, n_replicates_used, boot_lo, boot_hi) —
   * the (α/2, 1−α/2) percentile bootstrap interval as EXACT order
   * statistics over the replicate means (ranks ⌈α/2·m⌉ / ⌈(1−α/2)·m⌉
   * with the usual 10⁻⁹ ceil slack; replicates that draw zero total
   * weight — vanishing for non-toy data — are excluded and counted via
   * `n_replicates_used`). Poisson(1) multiplicities come from the
   * inverse CDF on u_r ∈ [0,1) against 9dp literal cumulative
   * thresholds (k capped at 5; P(K>5) < 10⁻⁴). The per-replicate
   * uniforms are an AFFINE PRF FAMILY over ONE row fingerprint:
   * h = fp60(id) mod p (p = 1e9+7, a single md5 per ROW), then
   * u_r = ((h·A_r + B_r) mod p)/p with literal per-replicate constants
   * A_r/B_r themselves fp60-derived — the classic universal-hashing
   * construction (uniform marginals per replicate, pairwise-independent
   * across replicates), chosen over R independent string hashes because
   * hashing cost is the whole query at R=40: one md5 + R multiply-adds
   * per row instead of R md5s of R fresh concatenated strings. Constants
   * and arithmetic are shared verbatim with the oracle (h·A_r < 2⁶⁰ —
   * exact in BIGINT/Long on both engines).
   *
   * Determinism: per-row y 6dp-rounded into exact integer MICROS (Long
   * sums — order-free; the corpus mean keeps its DECIMAL sum);
   * replicate means 6dp-rounded doubles ranked with (mean, replicate)
   * total order.
   *
   * Scale: ONE pass, ZERO row inflation — all R replicates are inline
   * conditional aggregate pairs (sum k_r, sum k_r·y for r < R) of a
   * single scan (the round-12 form exploded the scan R× through a
   * sequence generator before aggregating — same semantics, R× the
   * rows through the projection); the 1-row 2R-column aggregate then
   * unpivots to R rows and everything after is replicate-count-sized.
   */
  def poissonBootstrapMeanCI(df: DataFrame, idCol: String, yCol: String,
                             replicates: Int = 40,
                             alpha: Double = 0.05): DataFrame = {
    require(replicates >= 4 && replicates <= 1000,
      s"replicates in [4, 1000], got $replicates")
    require(alpha > 0 && alpha < 1, s"alpha in (0,1), got $alpha")
    val dec = org.apache.spark.sql.types.DecimalType(28, 6)
    val base = df.filter(col(yCol).isNotNull && col(idCol).isNotNull)
      .select(col(idCol).cast("string").as("__id"),
        col(yCol).cast("double").as("__y"))
    val full = base.agg(count(lit(1)).as("n_rows"),
      round(sum(round(col("__y"), 6).cast(dec)).cast("double") /
        count(lit(1)), 6).as("mean"))
    // one row fingerprint, reduced mod p — the ONLY md5 on the hot path,
    // materialized as a projected column so it cannot be re-evaluated
    // per replicate expression
    val P = 1000000007L
    // y as exact integer MICROS (round(y,6) scaled through a compact
    // DECIMAL(18,6) — one decimal op per row): the per-replicate sums
    // then run in plain Long arithmetic. DECIMAL(28,6) overflows the
    // compact long representation, and 2R BigDecimal ops per row WAS
    // the query's cost. Exact while Σ|k·y|·1e6 < 9.2e18 (≈ 1e12 rows of
    // |y| ≤ 1000 — beyond that, swap `micros` back to the decimal form)
    val hashed = base.select(
      (round(col("__y"), 6).cast(org.apache.spark.sql.types.DecimalType(18, 6))
        * 1000000).cast("long").as("__ym"),
      pmod(graft.ext.TextOps.fingerprint60(col("__id")), lit(P)).as("__h"))
    val h = col("__h")
    // per-replicate affine constants, fp60-derived driver-side literals
    // (the oracle derives the identical values from the same strings)
    def aOf(r: Int): Long =
      graft.ext.HashKernel.fp60(s"bootA:$r") % (P - 1) + 1
    def bOf(r: Int): Long = graft.ext.HashKernel.fp60(s"bootB:$r") % P
    // cumulative Poisson(1) CDF at k = 0..4, 9dp literals (the oracle
    // carries the identical constants)
    def kOf(r: Int): Column = {
      val u = pmod(h * lit(aOf(r)) + lit(bOf(r)), lit(P))
        .cast("double") / P.toDouble
      when(u < 0.367879441, 0L).when(u < 0.735758882, 1L)
        .when(u < 0.919698603, 2L).when(u < 0.981011843, 3L)
        .when(u < 0.996340153, 4L).otherwise(5L)
    }
    val repAggs = (0 until replicates).flatMap { r =>
      val k = kOf(r)
      Seq(sum(k).as(s"__n$r"), sum(k * col("__ym")).as(s"__s$r"))
    }
    val reps = hashed
      .agg(repAggs.head, repAggs.tail: _*)
      .select(explode(array((0 until replicates).map(r =>
        struct(lit(r).as("r"), col(s"__n$r").as("n"),
          col(s"__s$r").as("s"))): _*)).as("x"))
      .select(col("x.r").as("__r"), col("x.n").as("__n"),
        col("x.s").as("__s"))
      // unpartitioned window BOUND: ≤R (≤1000) replicate rows
      .filter(col("__n") > 0)
      .select(col("__r"),
        round(col("__s").cast("double") / 1e6 / col("__n"), 6).as("__m"))
    val cnt = reps.agg(count(lit(1)).as("__cnt"))
    val ranked = reps
      .withColumn("__rk", row_number().over(
        Window.orderBy(col("__m").asc, col("__r").asc)))
      .crossJoin(broadcast(cnt))
      .select(col("__m"), col("__rk"), col("__cnt"),
        greatest(ceil(lit(alpha / 2) * col("__cnt") - lit(1e-9)), lit(1L))
          .as("__lo"),
        least(ceil(lit(1.0 - alpha / 2) * col("__cnt") - lit(1e-9)),
          col("__cnt")).as("__hi"))
    val lohi = ranked.agg(
      max(col("__cnt")).as("n_replicates_used"),
      max(when(col("__rk") === col("__lo"), col("__m"))).as("boot_lo"),
      max(when(col("__rk") === col("__hi"), col("__m"))).as("boot_hi"))
    full.crossJoin(broadcast(lohi))
      .select(col("n_rows"), col("mean"), col("n_replicates_used"),
        col("boot_lo"), col("boot_hi"))
  }

  /**
   * Shared decomposition behind [[anovaF]] / [[leveneW]] / [[tukeyHsd]]:
   * per-group exact-integer moments (n_g, Σc, Σc²) of `__c` over `__g`,
   * folded into the one-row (n, k, ssb, ssw) sums the F family needs.
   * Between/within terms use the cancellation-free exact-numerator
   * forms — ssb_g = (n·S_g − S·n_g)²/(n²·n_g), ssw_g = (n_g·Q_g −
   * S_g²)/n_g — whose numerators/denominators are EXACT decimals, so
   * the only float op per group is one division of two exact values
   * (IEEE-identical on any engine), then the mutualInformation
   * discipline: round each term to 4dp and sum through DECIMAL so k-way
   * addition order can't smear the total. Overflow bound: products stay
   * inside DECIMAL(38,0) while n·max|Σc| < 10¹⁹ — beyond that, pre-bin
   * or rescale the metric (the bootstrap-micros convention).
   *
   * Scale: one partial-aggregating pass to k group rows, a 1-row total
   * broadcast back onto them, and a k-row reduce. The corpus streams
   * once; nothing downstream is data-proportional.
   */
  private def anovaCore(base: DataFrame): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val dterm = org.apache.spark.sql.types.DecimalType(38, 4)
    val grp = base.groupBy("__g").agg(
      count(lit(1)).as("__ng"),
      sum(col("__c").cast(dec)).as("__sg"),
      sum(col("__c").cast(dec) * col("__c").cast(dec)).as("__qg"))
    val tot = grp.agg(sum(col("__ng")).as("__n"), sum(col("__sg")).as("__s"),
      count(lit(1)).as("__k"),
      // Σ n_g² rides along for the unbalanced-design corrections
      // (ICC's n0) at zero extra passes
      sum(col("__ng").cast(dec) * col("__ng").cast(dec)).as("__sn2"))
    val ngD = col("__ng").cast(dec)
    val nD = col("__n").cast(dec)
    val ssbNum = col("__sg") * nD - col("__s") * ngD
    val ssbTerm = round((ssbNum * ssbNum).cast("double") /
      (nD * nD * ngD).cast("double"), 4).cast(dterm)
    val sswTerm = round((col("__qg") * ngD - col("__sg") * col("__sg"))
      .cast("double") / col("__ng").cast("double"), 4).cast(dterm)
    grp.crossJoin(broadcast(tot))
      .select(col("__n"), col("__k"), col("__sn2"),
        ssbTerm.as("__bt"), sswTerm.as("__wt"))
      .groupBy("__n", "__k", "__sn2")
      .agg(sum(col("__bt")).as("__ssb"), sum(col("__wt")).as("__ssw"))
      .select(col("__n").as("n"), col("__k").as("k"),
        col("__sn2").cast("double").as("sn2"),
        col("__ssb").cast("double").as("ssb"),
        col("__ssw").cast("double").as("ssw"))
  }

  /** (group, value-as-exact-cents) projection the F family shares. */
  private def anovaBase(df: DataFrame, valueCol: String,
                        groupCol: String): DataFrame =
    df.select(col(groupCol).cast("string").as("__g"),
        cents(col(valueCol)).as("__c"))
      .filter(col("__g").isNotNull && col("__c").isNotNull)

  /**
   * ONE-WAY ANOVA F — "does the metric MEAN differ across k groups",
   * the k-group generalization of [[welchTTest]] (equal-variance form;
   * pair with [[leveneW]] to check that assumption and [[tukeyHsd]] to
   * localize which pairs moved). Emits one row (n, n_groups,
   * ss_between, ss_within, f_stat): SS in value units² (4dp), F 6dp;
   * k < 2, n ≤ k, or zero within-variance emit NULL F.
   *
   * Deterministic: exact-cents group moments; [[anovaCore]]'s
   * per-group rounded-term decimal sums; one pinned double chain on
   * the final row.
   *
   * Scale: one conditional-aggregation pass + a k-row reduce — the
   * welch shape at any group count.
   */
  def anovaF(df: DataFrame, valueCol: String, groupCol: String): DataFrame = {
    val core = anovaCore(anovaBase(df, valueCol, groupCol))
    core.select(col("n"), col("k").as("n_groups"),
      round(col("ssb") / 1e4, 4).as("ss_between"),
      round(col("ssw") / 1e4, 4).as("ss_within"),
      when(col("k") >= 2 && col("n") > col("k") && col("ssw") > 0,
        round((col("ssb") / (col("k") - 1).cast("double")) /
          (col("ssw") / (col("n") - col("k")).cast("double")), 6))
        .otherwise(lit(null).cast("double")).as("f_stat"))
  }

  /**
   * INTRACLASS CORRELATION ICC(1) — "how much of the metric's variance
   * lives BETWEEN groups": the variance-components reading of
   * [[anovaF]]'s same decomposition — F answers "is the group effect
   * real", ICC answers "how STRONG is the grouping" on a [0, 1] scale
   * (0 = the label explains nothing, 1 = members of a group are
   * clones). The number behind design-effect corrections (clustered
   * sampling inflates variance by 1 + (m−1)·ICC) and the
   * is-this-partition-key-informative audit. Unbalanced-design form:
   * ICC = (MSB − MSW) / (MSB + (n₀−1)·MSW) with n₀ = (N − Σn_g²/N) /
   * (k−1). Emits one row (n, k, n0, icc), n0/icc 6dp; k < 2, n ≤ k, or
   * a non-positive denominator emits NULL icc.
   *
   * Deterministic: rides [[anovaF]]'s exact-moment `anovaCore` (Σn_g²
   * is one more exact decimal in the same pass); one pinned double
   * chain.
   *
   * Scale: identical to [[anovaF]] — one conditional-aggregation pass
   * + a k-row reduce.
   */
  def iccOneWay(df: DataFrame, valueCol: String,
                groupCol: String): DataFrame = {
    val core = anovaCore(anovaBase(df, valueCol, groupCol))
    val nD = col("n").cast("double"); val kD = col("k").cast("double")
    val msb = col("ssb") / (kD - 1.0)
    val msw = col("ssw") / (nD - kD)
    val n0 = (nD - col("sn2") / nD) / (kD - 1.0)
    val den = msb + (n0 - 1.0) * msw
    core.select(col("n"), col("k"),
      when(col("k") >= 2, round(n0, 6))
        .otherwise(lit(null).cast("double")).as("n0"),
      when(col("k") >= 2 && col("n") > col("k") && den > 0,
        round((msb - msw) / den, 6))
        .otherwise(lit(null).cast("double")).as("icc"))
  }

  /**
   * CRONBACH'S ALPHA — internal-consistency reliability of k "items"
   * measured per subject: do the items move TOGETHER across subjects
   * (α → 1) or independently (α → 0)? The questionnaire statistic,
   * repurposed for pipelines: items = the k per-segment daily metrics,
   * subjects = days — "is this metric family one signal or k separate
   * ones" before anyone averages them into a composite score.
   * α = k/(k−1) · (1 − Σᵢ Var(itemᵢ) / Var(Σ items)); the variance
   * RATIO lets the n(n−1) denominators cancel, so α is exact-integer
   * until one division. Same complete-block contract as [[friedmanQ]]
   * (k rows AND k distinct items per subject; dense-fill upstream when
   * absence means zero). Emits one row (n_subjects, k_items, alpha),
   * 6dp; k < 2 or zero total variance emits NULL.
   *
   * Scale: subject-partitioned completeness windows + one item-level
   * moment aggregate + one subject-total moment aggregate — the
   * friedman economics; the corpus streams once.
   */
  def cronbachAlpha(df: DataFrame, subjectCol: String, itemCol: String,
                    valueCol: String): DataFrame = {
    val dec = dec380
    val base = df.select(col(subjectCol).as("__s"), col(itemCol).as("__i"),
        cents(col(valueCol)).as("__v"))
      .filter(col("__s").isNotNull && col("__i").isNotNull &&
        col("__v").isNotNull)
    val k = base.agg(countDistinct(col("__i")).as("__k"))
    val wS = Window.partitionBy("__s")
    val complete = base
      .withColumn("__sk", count(lit(1)).over(wS))
      .withColumn("__skd", size(collect_set(col("__i")).over(wS)))
      .crossJoin(broadcast(k))
      .filter(col("__sk") === col("__k") && col("__skd") === col("__k"))
    // per-item variance numerators A_i = n·Σx² − (Σx)² — exact
    val byItem = complete.groupBy("__i")
      .agg(count(lit(1)).as("__n"), sum(col("__v").cast(dec)).as("__sx"),
        sum(col("__v").cast(dec) * col("__v").cast(dec)).as("__sxx"))
      .select(col("__n"),
        (col("__n").cast(dec) * col("__sxx") - col("__sx") * col("__sx"))
          .as("__ai"))
      .groupBy("__n").agg(count(lit(1)).as("k_items"),
        sum(col("__ai")).as("__sai"))
    // subject-total variance numerator A_T over the same subjects
    val bySubj = complete.groupBy("__s")
      .agg(sum(col("__v").cast(dec)).as("__t"))
      .agg(count(lit(1)).as("n_subjects"),
        sum(col("__t")).as("__st"), sum(col("__t") * col("__t")).as("__stt"))
      .select(col("n_subjects"),
        (col("n_subjects").cast(dec) * col("__stt") -
          col("__st") * col("__st")).as("__at"))
    val out = byItem.crossJoin(broadcast(bySubj))
    val kD = col("k_items").cast("double")
    val alpha = kD / (kD - 1.0) *
      (lit(1.0) - col("__sai").cast("double") / col("__at").cast("double"))
    out.select(col("n_subjects"), col("k_items"),
      when(col("k_items") >= 2 && col("__at").cast("double") > 0,
        round(alpha, 6))
        .otherwise(lit(null).cast("double")).as("alpha"))
  }

  /**
   * LIN'S CONCORDANCE CORRELATION (CCC) — do two same-scale measures
   * AGREE, not merely correlate: CCC = 2·s_xy / (s_x² + s_y² +
   * (μx−μy)²) penalizes location and scale disagreement that Pearson's
   * r forgives (r = 1 for y = 2x + 5; CCC is not). The
   * reconciliation-strength readout for paired pipeline figures
   * (header total vs detail sum, two independent meters of one
   * quantity). Emits one row (n, pearson_r, ccc), 8dp; zero variance
   * on either side emits NULLs.
   *
   * Deterministic: five exact integer-cents moments in one pass; the
   * n² factors cancel so CCC = 2(nΣxy−ΣxΣy) / (nΣx²−(Σx)² +
   * nΣy²−(Σy)² + (Σx−Σy)²) is exact until one division.
   *
   * Scale: one partial-aggregating scan to one row — the reconcile
   * shape at two columns.
   */
  def linCcc(df: DataFrame, xCol: String, yCol: String): DataFrame = {
    val dec = dec380
    val base = df.select(cents(col(xCol)).as("__x"), cents(col(yCol)).as("__y"))
      .filter(col("__x").isNotNull && col("__y").isNotNull)
    val x = col("__x").cast(dec); val y = col("__y").cast(dec)
    val m = base.agg(count(lit(1)).as("n"), sum(x).as("sx"), sum(y).as("sy"),
      sum(x * x).as("sxx"), sum(y * y).as("syy"), sum(x * y).as("sxy"))
    val nD = col("n").cast(dec)
    val vx = nD * col("sxx") - col("sx") * col("sx")
    val vy = nD * col("syy") - col("sy") * col("sy")
    val cxy = nD * col("sxy") - col("sx") * col("sy")
    val dd = col("sx") - col("sy")
    val denC = (vx + vy + dd * dd).cast("double")
    m.filter(col("n") > 1)
      .select(col("n"),
        when(vx.cast("double") > 0 && vy.cast("double") > 0,
          round(cxy.cast("double") /
            sqrt(vx.cast("double") * vy.cast("double")), 8))
          .otherwise(lit(null).cast("double")).as("pearson_r"),
        when(denC > 0, round(cxy.cast("double") * 2 / denC, 8))
          .otherwise(lit(null).cast("double")).as("ccc"))
  }

  /**
   * BLAND–ALTMAN limits of agreement — the interchangeability audit
   * behind [[linCcc]]'s single number: bias = mean(x − y) and the
   * band bias ± 1.96·sd(x − y) inside which 95% of paired differences
   * fall. "The two meters agree to ±4.20 with a +0.31 offset" — the
   * actionable form of "CCC = 0.97". Emits one row (n, bias, sd_diff,
   * loa_lo, loa_hi) in original value units, 6dp; n < 2 or zero
   * spread emits NULL band.
   *
   * Deterministic: differences are exact integer cents; sample sd via
   * the exact identity (nΣd²−(Σd)²)/(n(n−1)); pinned final chain.
   *
   * Scale: one partial-aggregating scan to one row.
   */
  def blandAltman(df: DataFrame, xCol: String, yCol: String): DataFrame = {
    val dec = dec380
    val base = df.select(cents(col(xCol)).as("__x"), cents(col(yCol)).as("__y"))
      .filter(col("__x").isNotNull && col("__y").isNotNull)
      .select((col("__x") - col("__y")).cast(dec).as("__d"))
    val m = base.agg(count(lit(1)).as("n"), sum(col("__d")).as("sd1"),
      sum(col("__d") * col("__d")).as("sd2"))
    val nD = col("n").cast("double")
    val bias = col("sd1").cast("double") / nD / 100.0
    val varD = (col("n").cast(dec) * col("sd2") - col("sd1") * col("sd1"))
      .cast("double") / (nD * (nD - 1.0)) / 1e4
    val sd = sqrt(varD)
    m.filter(col("n") > 0)
      .select(col("n"), round(bias, 6).as("bias"),
        when(col("n") > 1 && varD >= 0, round(sd, 6))
          .otherwise(lit(null).cast("double")).as("sd_diff"),
        when(col("n") > 1 && varD >= 0, round(bias - sd * 1.96, 6))
          .otherwise(lit(null).cast("double")).as("loa_lo"),
        when(col("n") > 1 && varD >= 0, round(bias + sd * 1.96, 6))
          .otherwise(lit(null).cast("double")).as("loa_hi"))
  }

  /**
   * NEWCOMBE two-proportion difference CI — the score-interval band
   * around p_a − p_b: each arm gets its own [[wilsonInterval]] bounds
   * and the difference CI composes them (lo = d − √((p_a−l_a)² +
   * (u_b−p_b)²), hi symmetric) — the method that stays sane at small
   * n and extreme rates where the naive Wald band escapes [−1, 1].
   * The experiment-readout companion to the per-arm Wilson rows:
   * dashboards want THE DIFFERENCE with a band, not two overlapping
   * intervals to eyeball. `successCol` boolean, `armCol` ∈ {armA,
   * armB}. Emits one row (n_a, k_a, n_b, k_b, diff, lo, hi), 6dp;
   * an empty arm emits no row.
   *
   * Deterministic: (k, n) exact integers into one fixed-order double
   * expression — the wilsonInterval discipline, composed.
   *
   * Scale: one conditional-aggregation pass to one row.
   */
  def newcombeDiffCi(df: DataFrame, successCol: String, armCol: String,
                     armA: String, armB: String,
                     z: Double = 1.96): DataFrame = {
    val m = df.filter(col(armCol) === armA || col(armCol) === armB)
      .filter(col(successCol).isNotNull)
      .agg(
        sum(when(col(armCol) === armA, 1L).otherwise(0L)).as("n_a"),
        sum(when(col(armCol) === armA && col(successCol), 1L)
          .otherwise(0L)).as("k_a"),
        sum(when(col(armCol) === armB, 1L).otherwise(0L)).as("n_b"),
        sum(when(col(armCol) === armB && col(successCol), 1L)
          .otherwise(0L)).as("k_b"))
    def wilson(k: Column, n: Column): (Column, Column, Column) = {
      val nD = n.cast("double"); val p = k.cast("double") / nD
      val z2 = z * z
      val center = (p + lit(z2) / (nD * 2)) / (lit(1.0) + lit(z2) / nD)
      val half = lit(z) * sqrt(p * (lit(1.0) - p) / nD +
        lit(z2) / (nD * nD * 4)) / (lit(1.0) + lit(z2) / nD)
      (p, center - half, center + half)
    }
    val (pa, la, ua) = wilson(col("k_a"), col("n_a"))
    val (pb, lb, ub) = wilson(col("k_b"), col("n_b"))
    val d = pa - pb
    m.filter(col("n_a") > 0 && col("n_b") > 0)
      .select(col("n_a"), col("k_a"), col("n_b"), col("k_b"),
        round(d, 6).as("diff"),
        round(d - sqrt((pa - la) * (pa - la) + (ub - pb) * (ub - pb)), 6)
          .as("lo"),
        round(d + sqrt((ua - pa) * (ua - pa) + (pb - lb) * (pb - lb)), 6)
          .as("hi"))
  }

  /**
   * ONE-SAMPLE KS vs the DISCRETE UNIFORM over the observed integer
   * range — "is this hash/bucket/shard assignment actually uniform":
   * D = max_v |F_emp(v) − (v−lo+1)/(hi−lo+1)|. The uniformity audit
   * behind every fingerprint-based split and salting scheme
   * ([[graft.ext.SamplingOps]]'s determinism rests on it) — chi²
   * goodness-of-fit sees bin-mass deviations, KS sees RANGE-ordered
   * drift (a biased-high hash passes chi² per bucket and fails here).
   * Emits one row (n, range_size, d_stat, at_v), D 8dp with the value
   * attaining it (ties broken low).
   *
   * Deterministic: exact cumulative counts over the integer support;
   * per-value gaps are pinned divisions rounded 8dp.
   *
   * Scale: the [[ksStatistic]] shape — one support histogram + a
   * cumulative window over the bounded support + a top-1.
   */
  def ksUniform(df: DataFrame, valueCol: String): DataFrame = {
    val counts = df.filter(col(valueCol).isNotNull)
      .groupBy(col(valueCol).cast("long").as("v"))
      .agg(count(lit(1)).as("c"))
    val tot = counts.agg(sum(col("c")).as("n"), min(col("v")).as("lo"),
      max(col("v")).as("hi"))
    // unpartitioned window BOUND: the bounded integer support
    val w = Window.orderBy(col("v").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    counts.crossJoin(broadcast(tot))
      .filter(col("n") > 0)
      .select(col("v"), col("n"),
        (col("hi") - col("lo") + 1).as("range_size"),
        round(abs(sum(col("c")).over(w).cast("double") / col("n") -
          (col("v") - col("lo") + 1).cast("double") /
            (col("hi") - col("lo") + 1).cast("double")), 8).as("d"))
      .orderBy(col("d").desc, col("v").asc)
      .limit(1)
      .select(col("n"), col("range_size"), col("d").as("d_stat"),
        col("v").as("at_v"))
  }

  /**
   * MOOD'S MEDIAN TEST (k-group) — "do the k groups share one MEDIAN":
   * classify every row above / at-or-below the grand median and chi²
   * the resulting 2×k table. The blunt-but-assumption-free member of
   * the k-group family: [[anovaF]] needs variances, [[kruskalWallis]]
   * assumes comparable shapes — the median test only needs counts, so
   * it survives wild outliers and mixed shapes (at some power cost —
   * the standard trade). Not to be confused with [[moodScaleTest]]
   * (two-sample dispersion). Grand median = exact lower/upper-middle
   * average over the cents histogram. Emits one row (n, k, chi2, dof),
   * chi2 6dp; a degenerate table (all mass one side) emits NULL chi2.
   *
   * Deterministic: the median positions and all cell counts are exact
   * integers; per-cell (o−e)²/e terms round 8dp and sum through
   * DECIMAL (the chi² discipline).
   *
   * Scale: one cents histogram + a bounded-support cumulative for the
   * median + one (group, side) cell aggregate + a k-row reduce.
   */
  def medianTest(df: DataFrame, valueCol: String,
                 groupCol: String): DataFrame = {
    val base = df.select(col(groupCol).as("__g"), cents(col(valueCol)).as("__v"))
      .filter(col("__g").isNotNull && col("__v").isNotNull)
    val hist = base.groupBy("__v").agg(count(lit(1)).as("__c"))
    val tot = hist.agg(sum(col("__c")).as("__n"))
    // unpartitioned window BOUND: the cents-value support
    val wCum = Window.orderBy(col("__v").asc)
      .rowsBetween(Window.unboundedPreceding, 0)
    val cum = hist.crossJoin(broadcast(tot))
      .withColumn("__cum", sum(col("__c")).over(wCum))
    val med = cum.agg(
      min(when(col("__cum") * 2 >= col("__n") + (col("__n") % 2),
        col("__v"))).as("__lo"),
      min(when(col("__cum") * 2 >= col("__n") + 2 - (col("__n") % 2),
        col("__v"))).as("__hi"))
      .select(((col("__lo") + col("__hi")).cast("double") / 2.0).as("__med"))
    // the 2×k observed table is a bounded post-aggregation model
    // artifact (k group levels × 2 sides); the chi² finisher over it is
    // pure grid arithmetic, so it runs DRIVER-SIDE (the ipfRake /
    // transition-grid class) in arithmetic mirroring the former
    // expression chain step for step — the former distributed finisher
    // spent ~12 tiny AQE stage-jobs (two margins, total, cross, three
    // broadcasts, final rollup) scheduling ≤2k-row frames, pure
    // latency at every scale. chi² runs over the FULL 2×k cross (the
    // chiSquareIndependence contract): a group entirely on one side
    // still contributes its empty cell's (0−e)²/e.
    val observed = collectGrid(base.crossJoin(broadcast(med))
      .groupBy(col("__g"), (col("__v").cast("double") > col("__med"))
        .as("__above"))
      .agg(count(lit(1)).as("o")), "medianTest")
    val spark = df.sparkSession
    val outSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("n",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("k",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("chi2",
        org.apache.spark.sql.types.DoubleType),
      org.apache.spark.sql.types.StructField("dof",
        org.apache.spark.sql.types.LongType)))
    if (observed.isEmpty) {
      // empty input produced an empty frame in the former distributed
      // finisher (the final rollup grouped an empty terms frame) — keep
      // that contract
      import scala.jdk.CollectionConverters._
      return spark.createDataFrame(
        Seq.empty[org.apache.spark.sql.Row].asJava, outSchema)
    }
    val o = scala.collection.mutable.HashMap.empty[(Any, Boolean), Long]
    observed.foreach(r => o((contentKey(r.get(0)), r.getBoolean(1))) = r.getLong(2))
    val gs = observed.map(r => contentKey(r.get(0))).distinct
    val sidesSeen = observed.map(_.getBoolean(1)).distinct
    val k = gs.length.toLong
    val ns = sidesSeen.length
    val rg = gs.map(g => g -> sidesSeen.map(s => o.getOrElse((g, s), 0L)).sum)
      .toMap
    val rs = sidesSeen.map(s => s -> gs.map(g => o.getOrElse((g, s), 0L)).sum)
      .toMap
    val n = rg.valuesIterator.sum
    // per-cell term == round((o − e)² / e, 8) in DECIMAL(24,8), summed
    // exactly; final chi² == round(CAST(sum AS DOUBLE), 6) — the same
    // HALF_UP chains the SQL form computed
    def r8(x: Double): java.math.BigDecimal = java.math.BigDecimal
      .valueOf(x).setScale(8, java.math.RoundingMode.HALF_UP)
    val chi2 =
      if (ns > 1 && k > 1) {
        var s = java.math.BigDecimal.ZERO
        for (g <- gs; sd <- sidesSeen) {
          val e = rg(g).toDouble * rs(sd).toDouble / n.toDouble
          val d = o.getOrElse((g, sd), 0L) - e
          s = s.add(r8(d * d / e))
        }
        java.lang.Double.valueOf(java.math.BigDecimal
          .valueOf(s.doubleValue)
          .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue)
      } else null
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(
      Seq(org.apache.spark.sql.Row(n, k, chi2, (k - 1) * (ns - 1))).asJava,
      outSchema)
  }

  /**
   * BOWKER'S SYMMETRY TEST — "is the k×k pair table SYMMETRIC": for a
   * transition/confusion matrix, χ² = Σ_{i<j} (n_ij − n_ji)² /
   * (n_ij + n_ji), the k-category generalization of McNemar (which is
   * the 2×2 case). On an event-transition matrix this is the
   * DIRECTIONALITY test — "does A→B genuinely outnumber B→A once
   * chance flow is netted out" — the question the raw
   * `q_markov_transitions` matrix shows but cannot score. Emits one
   * row (n_pairs_tested, dof, chi2), chi2 6dp; pairs with
   * n_ij + n_ji = 0 are untestable and excluded (dof counts the
   * tested off-diagonal pairs).
   *
   * Deterministic: cell counts exact; per-pair terms round 8dp and
   * sum through DECIMAL.
   *
   * Scale: one (a, b) cell aggregate folded to unordered pairs —
   * everything after the first exchange is (levels²)-bounded.
   */
  def bowkerSymmetry(df: DataFrame, aCol: String,
                     bCol: String): DataFrame = {
    val dterm = org.apache.spark.sql.types.DecimalType(24, 8)
    val cells = df
      .filter(col(aCol).isNotNull && col(bCol).isNotNull &&
        col(aCol) =!= col(bCol))
      .groupBy(col(aCol).as("__a"), col(bCol).as("__b"))
      .agg(count(lit(1)).as("__n"))
    val pairs = cells
      .select(least(col("__a"), col("__b")).as("__lo"),
        greatest(col("__a"), col("__b")).as("__hi"),
        when(col("__a") < col("__b"), col("__n")).otherwise(0L).as("__nij"),
        when(col("__a") > col("__b"), col("__n")).otherwise(0L).as("__nji"))
      .groupBy("__lo", "__hi")
      .agg(sum(col("__nij")).as("nij"), sum(col("__nji")).as("nji"))
      .filter(col("nij") + col("nji") > 0)
    val diff = (col("nij") - col("nji")).cast("double")
    pairs
      .select(round(diff * diff /
        (col("nij") + col("nji")).cast("double"), 8).cast(dterm).as("__t"))
      .agg(count(lit(1)).as("n_pairs_tested"),
        round(sum(col("__t")).cast("double"), 6).as("__c"))
      .filter(col("n_pairs_tested") > 0)
      .select(col("n_pairs_tested"), col("n_pairs_tested").as("dof"),
        col("__c").as("chi2"))
  }

  /**
   * LEVENE'S TEST (mean-centered) — "do the k groups have equal
   * VARIANCE": the admission check for [[anovaF]]'s pooled-variance
   * assumption, and a drift detector in its own right (a segment whose
   * spread explodes while its mean holds still is invisible to F).
   * W = ANOVA-F applied to the absolute deviations z_ig = |y_ig − ȳ_g|;
   * the mean center (original Levene) keeps the whole thing to TWO
   * aggregate passes — the median-centered Brown–Forsythe variant would
   * cost a per-group order statistic; at robust-center need, feed this
   * the winsorized column instead. Emits (n, n_groups, w_stat), 6dp.
   *
   * Deterministic: pass 1's group means are exact-decimal sums divided
   * once into a double (IEEE-identical); z rounds to 2dp and scales to
   * exact integer hundredths-of-a-cent (W is scale-invariant, and the
   * coarser quantum keeps anovaCore's (n·ΣZ_g)² products inside
   * DECIMAL(38) two orders of magnitude past the cents bound), so
   * pass 2 is [[anovaCore]] on exact integers again.
   *
   * Scale: two partial-aggregating passes over the corpus with a
   * k-row broadcast join between them — no shuffle of the rows
   * themselves (groupBy(g) shuffles only the k·partitions partials).
   */
  def leveneW(df: DataFrame, valueCol: String, groupCol: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val base = anovaBase(df, valueCol, groupCol)
    val means = base.groupBy("__g")
      .agg((sum(col("__c").cast(dec)).cast("double") / count(lit(1)))
        .as("__m"))
    val z = base.join(broadcast(means), "__g")
      .select(col("__g"),
        (round(abs(col("__c") - col("__m")), 2)
          .cast(org.apache.spark.sql.types.DecimalType(18, 2)) * 100)
          .cast("long").as("__c"))
    val core = anovaCore(z)
    core.select(col("n"), col("k").as("n_groups"),
      when(col("k") >= 2 && col("n") > col("k") && col("ssw") > 0,
        round((col("ssb") / (col("k") - 1).cast("double")) /
          (col("ssw") / (col("n") - col("k")).cast("double")), 6))
        .otherwise(lit(null).cast("double")).as("w_stat"))
  }

  /**
   * BROWN–FORSYTHE TEST — [[leveneW]] with MEDIAN centers: the robust
   * equal-variance test. Levene's mean center is itself dragged by the
   * outliers whose spread it measures; centering on the group median
   * (the Brown–Forsythe variant, the one statistical practice actually
   * recommends for skewed data) keeps the test calibrated on
   * heavy-tailed segments — exactly the revenue-like metrics this
   * engine audits. F = ANOVA-F applied to z_ig = |y_ig − med_g|.
   * Costs [[leveneW]] + one per-group exact order statistic — the
   * trade leveneW's doc prices out is bought here explicitly.
   *
   * Emits one row (n, n_groups, f_stat), 6dp; k < 2, n ≤ k, or zero
   * within-variance of the deviations emits NULL.
   *
   * Deterministic: group medians are exact interpolated percentiles
   * over integer cents (halves at worst — exactly representable);
   * z rounds to 2dp and scales to exact integer hundredth-cents (the
   * leveneW quantum), so the second pass is [[anovaCore]] on exact
   * integers again.
   *
   * Scale: one exact-percentile aggregate (k-row output, broadcast
   * back) + one corpus-streaming deviation pass into anovaCore — the
   * madOutliers economics; the corpus streams twice, never sorts.
   */
  def brownForsythe(df: DataFrame, valueCol: String,
                    groupCol: String): DataFrame = {
    val base = anovaBase(df, valueCol, groupCol)
    val meds = base.groupBy("__g")
      .agg(expr("percentile(__c, 0.5)").as("__med"))
    val z = base.join(broadcast(meds), "__g")
      .select(col("__g"),
        (round(abs(col("__c") - col("__med")), 2)
          .cast(org.apache.spark.sql.types.DecimalType(18, 2)) * 100)
          .cast("long").as("__c"))
    val core = anovaCore(z)
    core.select(col("n"), col("k").as("n_groups"),
      when(col("k") >= 2 && col("n") > col("k") && col("ssw") > 0,
        round((col("ssb") / (col("k") - 1).cast("double")) /
          (col("ssw") / (col("n") - col("k")).cast("double")), 6))
        .otherwise(lit(null).cast("double")).as("f_stat"))
  }

  /**
   * GAMES–HOWELL pairwise readout — [[tukeyHsd]]'s unequal-variance
   * twin: after [[welchAnova]] rejects, WHICH pairs differ, without
   * the pooled-MS_W assumption Tukey–Kramer makes. Per pair (a < b):
   * the studentized-range statistic q = |ȳ_a − ȳ_b| /
   * √((s²_a/n_a + s²_b/n_b)/2) against its own pairwise standard
   * error, with the Welch–Satterthwaite degrees of freedom
   * df = (s²_a/n_a + s²_b/n_b)² / ((s²_a/n_a)²/(n_a−1) +
   * (s²_b/n_b)²/(n_b−1)) — the pair a variance-heterogeneous segment
   * comparison actually needs (Tukey's pooled q is anticonservative
   * against a high-variance group).
   *
   * Emits one row per usable pair (g_a, g_b, n_a, n_b, mean_a,
   * mean_b, q_stat, df), ordered; groups with n < 2 or zero variance
   * are excluded (no pairwise SE exists for them).
   *
   * Deterministic: exact decimal group moments; per-group mean and
   * variance divide once (k rows); each pair's q/df is one pinned
   * double chain over the k²-bounded grid.
   *
   * Scale: the tukeyHsd economics — the corpus streams once into a
   * k-row moment aggregate; the pair join is the bounded model
   * artifact theta-joined against itself (whitelisted BNLJ).
   */
  def gamesHowell(df: DataFrame, valueCol: String,
                  groupCol: String): DataFrame = {
    val dec = dec380
    val grp = anovaBase(df, valueCol, groupCol).groupBy("__g").agg(
      count(lit(1)).as("__ng"),
      sum(col("__c").cast(dec)).as("__sg"),
      sum(col("__c").cast(dec) * col("__c").cast(dec)).as("__qg"))
    val ngD = col("__ng").cast("double")
    val usable = grp
      .withColumn("__m", col("__sg").cast("double") / ngD / 100.0)
      .withColumn("__v2", (col("__ng").cast(dec) * col("__qg") -
        col("__sg") * col("__sg")).cast("double") /
        (ngD * (ngD - 1.0)) / 1e4)
      .filter(col("__ng") >= 2 && col("__v2") > 0)
    def side(tag: String) = usable.select(col("__g").as(s"g_$tag"),
      col("__ng").as(s"n_$tag"), col("__m").as(s"m_$tag"),
      col("__v2").as(s"v_$tag"))
    val se2 = col("v_a") / col("n_a") + col("v_b") / col("n_b")
    val dfDen = (col("v_a") / col("n_a")) * (col("v_a") / col("n_a")) /
      (col("n_a") - 1).cast("double") +
      (col("v_b") / col("n_b")) * (col("v_b") / col("n_b")) /
        (col("n_b") - 1).cast("double")
    side("a").join(broadcast(side("b")), col("g_a") < col("g_b"))
      .select(col("g_a"), col("g_b"), col("n_a"), col("n_b"),
        round(col("m_a"), 6).as("mean_a"), round(col("m_b"), 6).as("mean_b"),
        round(abs(col("m_a") - col("m_b")) / sqrt(se2 / 2.0), 6)
          .as("q_stat"),
        when(dfDen > 0, round(se2 * se2 / dfDen, 6))
          .otherwise(lit(null).cast("double")).as("df"))
      .orderBy("g_a", "g_b")
  }

  /**
   * TUKEY HSD pairwise readout — AFTER [[anovaF]] rejects "all means
   * equal", WHICH pairs differ: for every group pair (a < b), the
   * studentized-range statistic q = |ȳ_a − ȳ_b| / √(MS_W/2·(1/n_a +
   * 1/n_b)) against the pooled within-group variance (the
   * unequal-n Tukey–Kramer form). Emits one row per pair (g_a, g_b,
   * n_a, n_b, mean_a, mean_b, q_stat), ordered; zero pooled variance
   * emits NULL q.
   *
   * Scale: the pair join is k²/2 over the k-row group aggregate — a
   * bounded model artifact joined against itself (broadcast
   * nested-loop by construction, whitelisted in the plan gate); the
   * corpus streams once into [[anovaCore]]'s moments.
   */
  def tukeyHsd(df: DataFrame, valueCol: String, groupCol: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val base = anovaBase(df, valueCol, groupCol)
    val grp = base.groupBy("__g").agg(count(lit(1)).as("__ng"),
      sum(col("__c").cast(dec)).as("__sg"))
    val core = anovaCore(base)
    val msw = core.select(col("n"), col("k"),
      when(col("n") > col("k"),
        col("ssw") / 1e4 / (col("n") - col("k")).cast("double"))
        .as("__msw"))
    def side(tag: String) = grp.select(col("__g").as(s"g_$tag"),
      col("__ng").as(s"n_$tag"),
      round(col("__sg").cast("double") / col("__ng") / 100.0, 6)
        .as(s"mean_$tag"))
    side("a").join(broadcast(side("b")), col("g_a") < col("g_b"))
      .crossJoin(broadcast(msw))
      .select(col("g_a"), col("g_b"), col("n_a"), col("n_b"),
        col("mean_a"), col("mean_b"),
        when(col("__msw") > 0,
          round(abs(col("mean_a") - col("mean_b")) /
            sqrt(col("__msw") / 2.0 *
              (lit(1.0) / col("n_a") + lit(1.0) / col("n_b"))), 6))
          .otherwise(lit(null).cast("double")).as("q_stat"))
      .orderBy("g_a", "g_b")
  }

  /**
   * KRUSKAL–WALLIS H — the k-group rank ANOVA: [[mannWhitneyU]]'s
   * stochastic-dominance question at any group count, and [[anovaF]]
   * without the normality assumption. Fractional (doubled) ranks over
   * the COMBINED sample ride the distributed rank kernel
   * ([[doubledRanks]] — no single-task sort at any support width);
   * H uses the cancellation-free deviations form
   * H = 12/(n(n+1)) · Σ n_g·(r̄_g − (n+1)/2)² (the raw Σ R²/n_g − 3(n+1)
   * form subtracts two ~n² doubles and loses every significant digit
   * at corpus n), tie-corrected H' = H / (1 − Σ(t³−t)/(n³−n)). Emits
   * one row (n, n_groups, h, h_tie_adj), 6dp; all-tied input (the
   * correction denominator hits 0) emits NULL h_tie_adj.
   *
   * Deterministic: doubled ranks and tie masses are exact integers;
   * per-group deviation terms are divisions of exact values rounded
   * 4dp into decimal sums; the final row is one pinned double chain.
   *
   * Scale: a (value,group)-histogram pass, the rank kernel over the
   * value support, a k-row reduce. Pre-bin unbounded continuous values
   * (the KS convention) — the kernel removes the sort bottleneck, not
   * the support-sized shuffle.
   */
  def kruskalWallis(df: DataFrame, valueCol: String,
                    groupCol: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val dterm = org.apache.spark.sql.types.DecimalType(38, 4)
    val kept = df.filter(col(valueCol).isNotNull && col(groupCol).isNotNull)
      .select(col(valueCol).as("__v"), col(groupCol).cast("string").as("__g"))
    val hist = kept.groupBy("__v", "__g").agg(count(lit(1)).as("__cgv"))
    val vt = hist.groupBy("__v").agg(sum(col("__cgv")).as("__t"))
    val ranked = doubledRanks(vt, "__v", "__t",
      probe = Some(kept.select("__v")))
    val tot = ranked.agg(sum(col("__t")).as("__n"),
      sum(col("__t").cast(dec) * col("__t").cast(dec) * col("__t").cast(dec)
        - col("__t").cast(dec)).as("__ties"))
    val byG = hist.join(ranked.select(col("__v"), col("__r2")), "__v")
      .groupBy("__g")
      .agg(sum(col("__cgv")).as("__ng"),
        sum(col("__cgv").cast(dec) * col("__r2").cast(dec)).as("__r2g"))
    // r̄_g = R_g/n_g = __r2g/(2n_g); center = (n+1)/2; term =
    // n_g·(r̄_g − center)² — divisions of exact values, then the
    // rounded-term decimal sum
    val dev = col("__r2g").cast("double") / (col("__ng") * 2).cast("double") -
      (col("__n") + 1).cast("double") / 2.0
    val sb = byG.crossJoin(broadcast(tot))
      .select(col("__n"), col("__ties"),
        round(col("__ng") * dev * dev, 4).cast(dterm).as("__bt"))
      .groupBy("__n", "__ties")
      .agg(count(lit(1)).as("__k"), sum(col("__bt")).as("__sb"))
    val nD = col("__n").cast("double")
    val h = lit(12.0) / (nD * (nD + 1.0)) * col("__sb").cast("double")
    val corr = lit(1.0) -
      col("__ties").cast("double") / (nD * nD * nD - nD)
    sb.filter(col("__n") > 1)
      .select(col("__n").as("n"), col("__k").as("n_groups"),
        round(h, 6).as("h"),
        when(corr > 0, round(h / corr, 6))
          .otherwise(lit(null).cast("double")).as("h_tie_adj"))
  }

  /**
   * JONCKHEERE–TERPSTRA test — the ordered-alternative
   * [[kruskalWallis]]: when the k groups carry an a-priori order (dose
   * levels, size tiers), KW spends k−1 degrees of freedom noticing ANY
   * location difference; JT sums the pairwise Mann–Whitney counts in
   * the hypothesized direction, JT = Σ_{i<j} U_ij, and detects a
   * monotone shift at a fraction of the sample — completing the
   * ordered-trend family with [[cochranArmitage]] (binary outcomes)
   * and [[pageTrend]] (blocked designs). Doubled counting keeps
   * 2·JT = Σ_v Σ_g c_g(v)·(2·A_g(v) + B_g(v)) an exact integer, where
   * A/B are lower-group cumulative/at-value counts — no pair
   * enumeration at any width. z uses the classical no-ties moments
   * (mid-counting makes it mildly conservative under heavy ties — the
   * [[pageTrend]] reading). Groups order by their ascending
   * `groupCol` value (the order IS the alternative). Emits one row
   * (n, k, jt_stat, z, direction), z 6dp; fewer than 2 groups emits
   * no row, zero variance emits NULL z.
   *
   * Scale: one (value, group) histogram + a per-group kernel
   * cumulative over the support + a k-bounded per-value prefix window
   * + a one-row reduce. Pre-bin unbounded continuous values.
   */
  def jonckheereTerpstra(df: DataFrame, valueCol: String,
                         groupCol: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val kept = df.filter(col(valueCol).isNotNull && col(groupCol).isNotNull)
      .select(col(valueCol).cast("double").as("__v"), col(groupCol).as("__g"))
    val hist = kept.groupBy("__v", "__g").agg(count(lit(1)).as("__c"))
    // per-group cumulative count strictly below v — group-partitioned
    // window over the (pre-binned) support
    val wCumG = Window.partitionBy("__g").orderBy(col("__v").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val cumd = hist.withColumn("__cum",
      coalesce(sum(col("__c")).over(wCumG), lit(0L)))
    // lower-group prefixes at each value: A = Σ_{i<g} cum_i(v−),
    // B = Σ_{i<g} c_i(v) — k-bounded per-value windows. Missing
    // (v, lower-group) rows cost nothing: their cum contribution is
    // carried by the groups' own rows only when the group appears at
    // v, so build the dense (v × groups) grid first.
    val groups = hist.select("__g").distinct()
    val dense = hist.select("__v").distinct().crossJoin(broadcast(groups))
      .join(cumd, Seq("__v", "__g"), "left")
      .withColumn("__c", coalesce(col("__c"), lit(0L)))
    // a missing (v, g) cell still needs that group's running cum at v:
    // forward-fill the group's cumulative via a max window over the
    // group's own rows (cum is monotone in v within a group)
    val wFill = Window.partitionBy("__g").orderBy(col("__v").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val filled = dense.withColumn("__cumf",
      coalesce(col("__cum"),
        max(when(col("__cum").isNotNull, col("__cum") + col("__c")))
          .over(wFill), lit(0L)))
    val wPrefix = Window.partitionBy("__v").orderBy(col("__g").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val terms = filled
      .withColumn("__A", coalesce(sum(col("__cumf")).over(wPrefix), lit(0L)))
      .withColumn("__B", coalesce(sum(col("__c")).over(wPrefix), lit(0L)))
      .filter(col("__c") > 0)
    val m = terms.agg(sum(col("__c")).as("n"),
      sum(col("__c").cast(dec) *
        (col("__A").cast(dec) * 2 + col("__B").cast(dec))).as("__jt2"))
    val sizes = kept.groupBy("__g").agg(count(lit(1)).as("__ng"))
      .agg(count(lit(1)).as("k"), sum(col("__ng")).as("__ntot"),
        sum(col("__ng").cast(dec) * col("__ng").cast(dec)).as("__sn2"),
        sum(col("__ng").cast(dec) * col("__ng").cast(dec) *
          (col("__ng") * 2 + 3).cast(dec)).as("__sn23"))
    val out = m.crossJoin(broadcast(sizes))
    val nD = col("__ntot").cast("double")
    val jt = col("__jt2").cast("double") / 2.0
    val e = (nD * nD - col("__sn2").cast("double")) / 4.0
    val varJ = (nD * nD * (lit(2.0) * nD + 3.0) -
      col("__sn23").cast("double")) / 72.0
    out.filter(col("k") > 1)
      .select(col("__ntot").as("n"), col("k"),
        round(jt, 1).as("jt_stat"),
        when(varJ > 0, round((jt - e) / sqrt(varJ), 6))
          .otherwise(lit(null).cast("double")).as("z"),
        when(jt > e, "increasing").when(jt < e, "decreasing")
          .otherwise("none").as("direction"))
  }

  /**
   * COCHRAN–ARMITAGE trend test — "does the success RATE rise or fall
   * monotonically across ORDERED doses" (quantity bands, severity
   * levels, model-size tiers): chi² on the k×2 table ([[chiSquareIndependence]])
   * spends k−1 degrees of freedom noticing ANY difference; this spends
   * exactly one on the ordered trend, so a monotone effect shows up at
   * a fraction of the sample. Doses enter as their integer scores.
   * Emits one row (n, n_success, z) with z = T/√Var(T) 8dp,
   * T = Σ s_i·w_i − p̄·Σ w_i; degenerate inputs (all-success,
   * all-failure, or a single dose level) emit NULL z.
   *
   * Deterministic: every moment (n, r, Σw, Σw², Σ s·w) is an exact
   * integer; z's numerator/denominator are exact decimals divided once
   * — z = (n·Σsw − r·Σw)·√n / √(r(n−r)(n·Σw² − (Σw)²)).
   *
   * Scale: ONE conditional-aggregation pass to a single row — the
   * reconcile shape; no group-count dependence at all.
   */
  def cochranArmitage(df: DataFrame, doseCol: String,
                      successCol: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val base = df.select(col(doseCol).cast("long").as("__w"),
        col(successCol).cast("boolean").as("__s"))
      .filter(col("__w").isNotNull && col("__s").isNotNull)
    val w = col("__w").cast(dec)
    val m = base.agg(count(lit(1)).as("n"),
      sum(when(col("__s"), 1L).otherwise(0L)).as("r"),
      sum(w).as("sw"), sum(w * w).as("sww"),
      sum(when(col("__s"), w).otherwise(lit(0).cast(dec))).as("srw"))
    val nD = col("n").cast(dec)
    val tN = col("srw") * nD - col("r").cast(dec) * col("sw")
    val varN = col("r").cast(dec) * (nD - col("r").cast(dec)) *
      (col("sww") * nD - col("sw") * col("sw"))
    m.select(col("n"), col("r").as("n_success"),
      when(col("r") > 0 && col("r") < col("n") && varN > 0,
        round(tN.cast("double") * sqrt(col("n").cast("double")) /
          sqrt(varN.cast("double")), 8))
        .otherwise(lit(null).cast("double")).as("z"))
  }

  /**
   * REGRESSION-DISCONTINUITY readout — the quasi-experimental effect
   * estimate when treatment switches at a THRESHOLD of a running
   * variable (free shipping above an order size, review above a risk
   * score): fit a local line on each side of the cutoff inside a
   * bandwidth window and read the jump between the two fits AT the
   * cutoff. The causal companion to [[ipwAte]] (which needs observed
   * treatment randomness) and diff-in-diff (which needs a time
   * dimension). Emits one row (n_left, n_right, y_left, y_right,
   * slope_left, slope_right, rdd_effect) — fits 6dp in value units;
   * a side with < 2 points or zero x-variance emits its fit columns
   * (and the effect) NULL.
   *
   * Deterministic: x recenters on the cutoff and quantizes to exact
   * integer micro-units, y to exact cents; per-side OLS moments are
   * exact decimal sums; slopes/intercepts are single divisions of
   * exact values.
   *
   * Scale: ONE conditional-aggregation pass over the bandwidth-
   * filtered scan (the filter pushes down) — both sides' five moments
   * ride the same partial aggregate; nothing is data-proportional
   * after it.
   */
  def rddReadout(df: DataFrame, xCol: String, yCol: String,
                 cutoff: Double, bandwidth: Double): DataFrame = {
    require(bandwidth > 0, s"bandwidth must be positive, got $bandwidth")
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val base = df.select(col(xCol).cast("double").as("__x"),
        cents(col(yCol)).as("__y"))
      .filter(col("__x").isNotNull && col("__y").isNotNull &&
        col("__x") >= cutoff - bandwidth && col("__x") <= cutoff + bandwidth)
      .select((round(col("__x") - cutoff, 6)
        .cast(org.apache.spark.sql.types.DecimalType(18, 6)) * 1000000)
        .cast("long").as("__xm"), col("__y"))
    val right = col("__xm") >= 0L
    def moments(flag: Column, tag: String) = Seq(
      sum(when(flag, 1L).otherwise(0L)).as(s"n_$tag"),
      sum(when(flag, col("__xm").cast(dec)).otherwise(lit(0).cast(dec)))
        .as(s"sx_$tag"),
      sum(when(flag, col("__y").cast(dec)).otherwise(lit(0).cast(dec)))
        .as(s"sy_$tag"),
      sum(when(flag, col("__xm").cast(dec) * col("__xm").cast(dec))
        .otherwise(lit(0).cast(dec))).as(s"sxx_$tag"),
      sum(when(flag, col("__xm").cast(dec) * col("__y").cast(dec))
        .otherwise(lit(0).cast(dec))).as(s"sxy_$tag"))
    val aggs = moments(!right, "l") ++ moments(right, "r")
    val m = base.agg(aggs.head, aggs.tail: _*)
    def fit(tag: String): (Column, Column, Column) = {
      val n = col(s"n_$tag").cast(dec)
      val den = n * col(s"sxx_$tag") - col(s"sx_$tag") * col(s"sx_$tag")
      val slopeRaw = (n * col(s"sxy_$tag") - col(s"sx_$tag") * col(s"sy_$tag"))
        .cast("double") / den.cast("double") // cents per micro-x
      val atC = (col(s"sy_$tag").cast("double") -
        slopeRaw * col(s"sx_$tag").cast("double")) /
        col(s"n_$tag").cast("double") / 100.0 // value units at x = cutoff
      val ok = col(s"n_$tag") >= 2L && den > 0
      (when(ok, round(atC, 6)),
        when(ok, round(slopeRaw * 1e6 / 100.0, 6)), ok)
    }
    val (yl, sl, okL) = fit("l")
    val (yr, sr, okR) = fit("r")
    m.select(col("n_l").as("n_left"), col("n_r").as("n_right"),
      yl.as("y_left"), yr.as("y_right"),
      sl.as("slope_left"), sr.as("slope_right"),
      when(okL && okR, round(yr - yl, 6)).as("rdd_effect"))
  }

  def skyline2D(df: DataFrame, xCol: String, yCol: String): DataFrame = {
    def pass(d: DataFrame, part: Column): DataFrame = {
      val tagged = d.withColumn("_p", part)
      val strictPrev = Window.partitionBy(col("_p")).orderBy(col(xCol).asc)
        .rangeBetween(Window.unboundedPreceding, -1)
      val sameX = Window.partitionBy(col("_p"), col(xCol))
      tagged
        .withColumn("_mprev", max(col(yCol)).over(strictPrev))
        .withColumn("_msame", max(col(yCol)).over(sameX))
        .filter((col("_mprev").isNull || col("_mprev") < col(yCol)) &&
          col(yCol) === col("_msame"))
        .drop("_p", "_mprev", "_msame")
    }
    pass(pass(df, spark_partition_id()), lit(1))
  }

  /**
   * HOOVER INDEX (Robin Hood index) per group — the share of the total
   * that would have to move to equalize everyone: H = Σ|xᵢ−μ| / (2Σxᵢ).
   * The [[gini]] sibling with the direct operational reading ("how much
   * budget is misallocated"), and the one inequality index that needs
   * NO ranking — so it costs one aggregate + one join where gini costs
   * a per-group sort.
   *
   * Emits (groupCol, n, total, hoover) — total exact cents→double,
   * hoover 6dp; single-member or zero-total groups emit 0.
   *
   * Deterministic: |xᵢ−μ| = |n·xᵢ−S|/n keeps EVERYTHING integer —
   * Σ|n·xᵢ−S| is an exact decimal and only the final H = that/(2nS)
   * divides in doubles. No ranking ⇒ no tie hazard at all.
   *
   * Scale: one group-moment aggregate (k rows, broadcast back by the
   * equi-join) + one corpus-streaming |·| pass + a k-row rollup — no
   * windows, no sort; strictly cheaper than [[gini]].
   */
  def hoover(df: DataFrame, groupCol: String, valueCol: String): DataFrame = {
    val dec = dec380
    val base = df.select(col(groupCol), cents(col(valueCol)).as("__x"))
      .filter(col("__x").isNotNull)
    val gs = base.groupBy(groupCol).agg(count(lit(1)).as("__n"),
      sum(col("__x").cast(dec)).as("__s"))
    base.join(gs, Seq(groupCol))
      .groupBy(col(groupCol), col("__n"), col("__s"))
      .agg(sum(abs(col("__x").cast(dec) * col("__n").cast(dec) - col("__s")))
        .as("__dev"))
      .select(col(groupCol), col("__n").as("n"),
        (col("__s").cast("double") / 100).as("total"),
        when(col("__n") === 1 || col("__s") <= 0, lit(0.0))
          .otherwise(round(col("__dev").cast("double") /
            (lit(2.0) * col("__n").cast("double") *
              col("__s").cast("double")), 6)).as("hoover"))
  }

  /**
   * SIMPSON DIVERSITY per group — the probability two members drawn
   * WITHOUT replacement share a category: λ = Σ n_c(n_c−1)/(N(N−1));
   * emitted as diversity 1−λ and the effective category count 1/λ′
   * (inverse Simpson on the with-replacement form λ′ = Σ(n_c/N)²).
   * Where entropy (q_source_lang_entropy) weights rare categories
   * logarithmically, Simpson is dominance-weighted — the "is this
   * source really multilingual or 95% one language" audit, and the
   * ecology-standard pair to the Shannon reading.
   *
   * Emits (groupCol, n, n_categories, simpson_diversity,
   * effective_categories), 6dp; groups with n < 2 emit NULL diversity.
   *
   * Deterministic: pure integer counts; two divisions at the end.
   *
   * Scale: one (group, category) count aggregate + a per-group rollup
   * — two narrow exchanges, nothing data-proportional after the first.
   */
  def simpsonDiversity(df: DataFrame, groupCol: String,
                       catCol: String): DataFrame = {
    val dec = dec380
    val cells = df.filter(col(groupCol).isNotNull && col(catCol).isNotNull)
      .groupBy(col(groupCol), col(catCol)).agg(count(lit(1)).as("__c"))
    cells.groupBy(groupCol)
      .agg(sum(col("__c")).as("n"), count(lit(1)).as("n_categories"),
        sum(col("__c").cast(dec) * (col("__c") - 1).cast(dec)).as("__p2"),
        sum(col("__c").cast(dec) * col("__c").cast(dec)).as("__q2"))
      .select(col(groupCol), col("n"), col("n_categories"),
        when(col("n") >= 2, round(lit(1.0) -
          col("__p2").cast("double") /
            (col("n").cast("double") * (col("n") - 1).cast("double")), 6))
          .otherwise(lit(null).cast("double")).as("simpson_diversity"),
        round(col("n").cast("double") * col("n").cast("double") /
          col("__q2").cast("double"), 6).as("effective_categories"))
  }

  /**
   * GRUBBS MAX-OUTLIER statistic on a value series — WHICH observation
   * sits farthest from the mean in standard-deviation units, and how
   * far: G = max|xᵢ−x̄|/s. The single-point companion to the z-score
   * sweep (q_outlier_zscore tags everything past a threshold; Grubbs
   * names THE most extreme point with the test statistic the classical
   * one-outlier test compares to its t-based critical value). Run on a
   * bounded series — the daily-total grid here — it answers "does one
   * day break the metric, and which".
   *
   * Emits one row (n, at, value, g_stat): value in metric units (2dp —
   * it IS exact cents), G 6dp; n < 3 or zero variance emits NULL G.
   * Ties on G pick the earliest key.
   *
   * Deterministic: moments (n, S=Σx, Q=Σx²) are exact decimals;
   * |n·xᵢ−S| is an exact decimal per row, its max is exact, and
   * G = max|n·x−S| / (n·s) with s² = (nQ−S²)/(n(n−1)) divides once in
   * doubles.
   *
   * Scale: one 1-row moment reduce broadcast over the series + one
   * max-by pass — the cusum cost class on the bounded day grid; the
   * raw rows stream once into the grid.
   */
  def grubbsMaxOutlier(series: DataFrame, keyCol: String,
                       valueCol: String): DataFrame = {
    val dec = dec380
    val base = series.select(col(keyCol).as("__k"),
        cents(col(valueCol)).as("__x"))
      .filter(col("__x").isNotNull)
    val m = base.agg(count(lit(1)).as("__n"), sum(col("__x").cast(dec))
      .as("__s"),
      sum(col("__x").cast(dec) * col("__x").cast(dec)).as("__q"))
    val nD = col("__n").cast(dec)
    val varNum = (nD * col("__q") - col("__s") * col("__s")).cast("double")
    val dev = abs(col("__x").cast(dec) * nD - col("__s"))
    base.crossJoin(broadcast(m))
      .withColumn("__dev", dev)
      .orderBy(col("__dev").desc, col("__k").asc)
      .limit(1)
      .select(col("__n").as("n"), col("__k").as("at"),
        round(col("__x").cast("double") / 100.0, 2).as("value"),
        when(col("__n") >= 3 && varNum > 0,
          round(col("__dev").cast("double") /
            (col("__n").cast("double") *
              sqrt(varNum / (col("__n").cast("double") *
                (col("__n") - 1).cast("double")))), 6))
          .otherwise(lit(null).cast("double")).as("g_stat"))
  }

  /**
   * CUZICK'S TREND TEST — the ordered-alternative rank test on k
   * ordinal DOSE levels: T = Σᵢ lᵢ·rᵢ (each observation's group score
   * times its global rank), z against the permutation moments. The
   * Wilcoxon-family member of the ordered-trend trio: where
   * [[jonckheereTerpstra]] sums pairwise directional U counts and
   * [[pageTrend]] handles blocked designs, Cuzick weights the GLOBAL
   * rank by the dose score — one pass over the rank map, no pairwise
   * structure at all, so it is the cheapest of the three.
   *
   * Groups order by their ascending numeric `groupCol` value, which IS
   * the score lⱼ (the alternative being tested). Emits one row
   * (n, k, t_stat, z, direction): T exact (doubled-rank form halved at
   * the end), z 6dp with the tie-corrected permutation variance
   * Var(T) = Σ(lᵢ−l̄)² · (N³−N−Σ(t³−t)) / (12(N−1)); fewer than 2
   * groups emits no row, zero variance emits NULL z.
   *
   * Deterministic: doubled ranks off the [[doubledRanks]] kernel are
   * exact integers; 2T, (N+1)Σnⱼlⱼ, N·Σnⱼlⱼ²−(Σnⱼlⱼ)², and the tie
   * mass are exact decimals; one double chain at the end.
   *
   * Scale: the [[kruskalWallis]] shape exactly — one (value, group)
   * histogram, the distributed rank kernel over the value support, a
   * k-row score rollup, and 1-row reduces. Pre-bin unbounded
   * continuous values (the KS convention).
   */
  def cuzickTrend(df: DataFrame, valueCol: String,
                  groupCol: String): DataFrame = {
    val dec = dec380
    val kept = df.filter(col(valueCol).isNotNull && col(groupCol).isNotNull)
      .select(col(valueCol).as("__v"), col(groupCol).cast("long").as("__l"))
    val hist = kept.groupBy("__v", "__l").agg(count(lit(1)).as("__cgv"))
    val vt = hist.groupBy("__v").agg(sum(col("__cgv")).as("__t"))
    val ranked = doubledRanks(vt, "__v", "__t",
      probe = Some(kept.select("__v")))
    val tot = ranked.agg(sum(col("__t")).as("__n"),
      sum(col("__t").cast(dec) * col("__t").cast(dec) * col("__t").cast(dec)
        - col("__t").cast(dec)).as("__ties"))
    // per-group: size and Σ doubled-rank, then the score rollups — all
    // exact integers (scores ARE the group values)
    val byG = hist.join(ranked.select(col("__v"), col("__r2")), "__v")
      .groupBy("__l")
      .agg(sum(col("__cgv")).as("__ng"),
        sum(col("__cgv").cast(dec) * col("__r2").cast(dec)).as("__r2g"))
    val sc = byG.agg(count(lit(1)).as("__k"),
      sum(col("__r2g") * col("__l").cast(dec)).as("__t2"), // 2T
      sum(col("__ng").cast(dec) * col("__l").cast(dec)).as("__snl"),
      sum(col("__ng").cast(dec) * col("__l").cast(dec) * col("__l").cast(dec))
        .as("__snl2"))
    val nD = col("__n").cast(dec)
    // 2(T−E[T]) = __t2 − (N+1)·Σn_j·l_j (exact); Σ(l−l̄)² = (N·Σnl² −
    // (Σnl)²)/N — keep the N in the variance product instead of dividing
    val num2 = (col("__t2") - (nD + 1) * col("__snl")).cast("double")
    val sl2N = (nD * col("__snl2") - col("__snl") * col("__snl"))
      .cast("double") // N·Σ(l−l̄)²
    val rankVar = (nD * nD * nD - nD - col("__ties")).cast("double")
    // Var(T) = Σ(l−l̄)²·(N³−N−Σ(t³−t)) / (12(N−1)); sl2N carries an
    // extra factor N, divided back here. z = 2(T−E) / √(4·Var(T)).
    val varT = sl2N * rankVar /
      (col("__n").cast("double") * 12.0 * (col("__n") - 1).cast("double"))
    sc.crossJoin(broadcast(tot))
      .filter(col("__k") >= 2)
      .select(col("__n").as("n"), col("__k").as("k"),
        (col("__t2").cast("double") / 2).as("t_stat"),
        when(varT > 0, round(num2 / sqrt(lit(4.0) * varT), 6))
          .otherwise(lit(null).cast("double")).as("z"),
        when(num2 > 0, lit("up"))
          .when(num2 < 0, lit("down")).otherwise(lit("flat"))
          .as("direction"))
  }

  /**
   * TWO-SAMPLE ENERGY DISTANCE (1-D, squared form) — the third member
   * of the CDF-gap family: D² = 2·∫(F−G)²dt (Székely's 2E|X−Y| −
   * E|X−X′| − E|Y−Y′| collapses to exactly this unweighted L2 integral
   * in one dimension). Beside [[wasserstein1D]] (∫|F−G|, mass-transport
   * units) and the CvM statistic (∫(F−G)²dF̂ — pooled-data weighted),
   * energy distance weights every point of the SUPPORT equally, so
   * gaps in sparse tails count at full strength — the member that
   * notices a shifted tail the pooled weighting discounts. Rotation-
   * invariant and metric in general dimension; the 1-D grid form here
   * is exact, not estimated.
   *
   * Emits one row (n_a, n_b, energy): energy 6dp in value units
   * (D², the squared-distance convention); an empty side emits no row.
   * Two non-empty sides over a single-point pooled support (all values
   * equal) emit energy 0 — identical distributions, zero distance.
   *
   * Deterministic: per-segment terms round to 8dp and sum through
   * DECIMAL (the wasserstein discipline — segment width × squared CDF
   * gap, both off exact integer cumulatives).
   *
   * Scale: the KS/wasserstein shape — one (value) histogram with
   * per-side counts, a cumulative window over the bounded pre-binned
   * support, a 1-row totals broadcast, one reduce.
   */
  def energyDistance1D(df: DataFrame, valueCol: String, groupCol: String,
                       groupA: String, groupB: String): DataFrame = {
    val dterm = org.apache.spark.sql.types.DecimalType(24, 8)
    val kept = df
      .filter(col(groupCol) === groupA || col(groupCol) === groupB)
      .filter(col(valueCol).isNotNull)
    val counts = kept
      .groupBy(col(valueCol).cast("double").as("__v"))
      .agg(sum(when(col(groupCol) === groupA, 1L).otherwise(0L)).as("ca"),
        sum(when(col(groupCol) === groupB, 1L).otherwise(0L)).as("cb"))
    val tot = counts.agg(sum(col("ca")).as("__ta"), sum(col("cb")).as("__tb"))
    // unpartitioned window BOUND: pre-binned distinct-value support
    val wCum = Window.orderBy(col("__v").asc)
      .rowsBetween(Window.unboundedPreceding, 0)
    val wLead = Window.orderBy(col("__v").asc)
    val gap = col("__fa").cast("double") / col("__ta") -
      col("__fb").cast("double") / col("__tb")
    val terms = counts.crossJoin(broadcast(tot))
      .withColumn("__fa", sum(col("ca")).over(wCum))
      .withColumn("__fb", sum(col("cb")).over(wCum))
      .withColumn("__next", lead(col("__v"), 1).over(wLead))
      // keep the last (lead-null) support row with a 0 term rather than
      // filtering it: on a single-point support that row is the ONLY row,
      // and dropping it emitted no row at all where energy is exactly 0
      .filter(col("__ta") > 0 && col("__tb") > 0)
      .select(col("__ta"), col("__tb"),
        round(gap * gap * coalesce(col("__next") - col("__v"), lit(0.0)), 8)
          .cast(dterm).as("__w"))
    terms.groupBy("__ta", "__tb")
      .agg(round(sum(col("__w")).cast("double") * 2, 6).as("energy"))
      .select(col("__ta").as("n_a"), col("__tb").as("n_b"), col("energy"))
  }

  /**
   * WELCH'S ANOVA — the k-group mean comparison that does NOT assume
   * equal variances: where [[anovaF]] pools a single within-group
   * variance (and [[leveneW]] exists to check that pooling), Welch
   * weights each group by nⱼ/s²ⱼ and stays calibrated when segment
   * variances differ 10× — the realistic case for revenue-like metrics
   * across segments. F* = [Σwⱼ(mⱼ−m̄w)²/(k−1)] / [1 + (2(k−2)/(k²−1))·
   * Σ(1−wⱼ/W)²/(nⱼ−1)], with the Welch–Satterthwaite df₂ =
   * (k²−1) / (3·Σ(1−wⱼ/W)²/(nⱼ−1)).
   *
   * Emits one row (n, n_groups, f_stat, df2): F and df₂ 6dp; groups
   * with nⱼ < 2 or zero variance are EXCLUDED (they carry no weight —
   * wⱼ is undefined), and fewer than 2 usable groups emits NULL F.
   *
   * Deterministic: per-group moments (n, Σx, Σx²) are exact decimal
   * cents; means/variances divide once per group (k rows); every
   * cross-row reduce sums 12dp/8dp-rounded terms through DECIMAL (the
   * kruskalWallis discipline — a bare double sum is partition-order
   * dependent), and the final F/df₂ chain is one pinned double
   * expression.
   *
   * Scale: ONE corpus aggregation to k group-moment rows + two k-row
   * reduces with a 1-row broadcast between — the [[anovaF]] cost
   * class; nothing data-proportional after the first exchange.
   */
  def welchAnova(df: DataFrame, valueCol: String,
                 groupCol: String): DataFrame = {
    val dec = dec380
    val grp = anovaBase(df, valueCol, groupCol).groupBy("__g").agg(
      count(lit(1)).as("__ng"),
      sum(col("__c").cast(dec)).as("__sg"),
      sum(col("__c").cast(dec) * col("__c").cast(dec)).as("__qg"))
    val ngD = col("__ng").cast("double")
    // cents² sample variance s² = (nQ − S²)/(n(n−1)), exact-moment form
    val varG = (col("__ng").cast(dec) * col("__qg") -
      col("__sg") * col("__sg")).cast("double") /
      (ngD * (ngD - 1.0))
    val d12 = org.apache.spark.sql.types.DecimalType(38, 12)
    val d8 = org.apache.spark.sql.types.DecimalType(38, 8)
    val usable = grp
      .withColumn("__m", col("__sg").cast("double") / ngD)
      .withColumn("__v2", varG)
      .filter(col("__ng") >= 2 && col("__v2") > 0)
      .withColumn("__w", ngD / col("__v2"))
    val w1 = usable.agg(
      sum(round(col("__w"), 12).cast(d12)).as("__W"),
      sum(round(col("__w") * col("__m"), 8).cast(d8)).as("__wm"),
      sum(col("__ng")).as("__n"), count(lit(1)).as("__k"))
    val joined = usable.crossJoin(broadcast(
      w1.select(col("__W").cast("double").as("__W_b"),
        col("__wm").cast("double").as("__wm_b"),
        col("__n").as("__n_b"), col("__k").as("__k_b"))))
    val mw = col("__W_b")
    val mbar = col("__wm_b") / mw
    val red = joined.select(col("__n_b"), col("__k_b"),
        round(col("__w") * (col("__m") - mbar) * (col("__m") - mbar), 8)
          .cast(d8).as("__a"),
        round(((lit(1.0) - col("__w") / mw) * (lit(1.0) - col("__w") / mw)) /
          (col("__ng") - 1).cast("double"), 12).cast(d12).as("__lam"))
      .groupBy("__n_b", "__k_b")
      .agg(sum(col("__a")).cast("double").as("__A"),
        sum(col("__lam")).cast("double").as("__L"))
    val kD = col("__k_b").cast("double")
    // F is dimensionless: w·(m−m̄)² = (n/s²)·(Δcents)² cancels cents²
    val fNum = col("__A") / (kD - 1.0)
    val fDen = lit(1.0) + lit(2.0) * (kD - 2.0) / (kD * kD - 1.0) *
      col("__L")
    red.select(col("__n_b").as("n"), col("__k_b").as("n_groups"),
      when(col("__k_b") >= 2,
        round(fNum / fDen, 6))
        .otherwise(lit(null).cast("double")).as("f_stat"),
      when(col("__k_b") >= 2 && col("__L") > 0,
        round((kD * kD - 1.0) / (lit(3.0) * col("__L")), 6))
        .otherwise(lit(null).cast("double")).as("df2"))
  }
}
