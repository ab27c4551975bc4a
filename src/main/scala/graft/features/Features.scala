package graft.features

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import scala.collection.immutable.ListMap

/** Feature engineering (SURVEY §2.7 F1-F15, §2.5 W1), mirroring the
  * reference's six blocks in order (reference:
  * src/processing/feature_engineering.py:27-263): rfm → behavioral →
  * temporal → interaction → domain → encode.
  *
  * Each block adds its columns with ONE ordered `withColumns` projection
  * (and `encode` with one per encoder), so the analyzer sees six
  * projections, not one per new column: a chained `withColumn` re-analyzes
  * the whole 180+-column plan every call, which made the driver, not the
  * rows, the cost of this stage. The only aggregation-dependent steps
  * (quintile edges, q80 thresholds, distinct category levels) run as
  * separate small jobs whose scalars re-enter the plan as literals (the
  * fit/transform split, SURVEY §4.1).
  */
object Features {

  /** Reference pd.cut semantics (F1): right-closed `(lo, hi]` intervals,
    * values outside every bin (incl. the left edge of the first bin) → null.
    */
  def cut(c: Column, edges: Seq[Double], labels: Seq[String]): Column = {
    require(edges.size == labels.size + 1)
    labels.zipWithIndex.foldLeft(lit(null).cast("string")) { case (acc, (lbl, i)) =>
      val lo = edges(i); val hi = edges(i + 1)
      val in =
        if (hi.isPosInfinity) c > lo
        else c > lo && c <= hi
      when(in, lbl).otherwise(acc)
    }
  }

  /** Reference zero-guard idiom (F2): `x / y.replace(0, 1)`. */
  def zeroGuardDiv(x: Column, y: Column): Column =
    x / when(y === 0, 1).otherwise(y)

  /** W1 quantile bucketing ≡ pandas `rank(method='first')` + `qcut`:
    * `ntile(q)` over a global order with a deterministic tiebreak. pandas
    * breaks rank ties by original row position; Spark has no stable row
    * order, so the caller supplies a tiebreak key (user_id) — documented
    * divergence, same bucket sizes and boundaries.
    *
    * Degenerate cardinality (< 2 distinct) → constant labels.head for
    * ascending, labels.last for descending (reference
    * feature_engineering.py:90-98).
    *
    * Two execution strategies behind one signature:
    *   - `exact = true` (pandas-parity): global `ntile` — exact equal-count
    *     buckets, but the window has no partitionBy so Spark sorts the whole
    *     table in ONE partition. Fine up to millions of rows; wrong at 100 TB.
    *   - `exact = false` (scale path): `approxQuantile` inner edges computed
    *     in one distributed pass (Greenwald-Khanna sketch, map-side merged),
    *     then bucket assignment is a pure codegen'd CASE projection — no
    *     shuffle, no sort, no window. Bucket sizes match the ntile path to
    *     within the sketch's rank error (exact when relativeError*n < 1).
    */
  def quantileBucket(
      df: DataFrame, c: String, tiebreak: String,
      q: Int, labels: Seq[Int], ascending: Boolean,
      distinctCount: Option[Long] = None,
      exact: Boolean = true,
      relativeError: Double = 1e-4): Column = {
    val distinct = distinctCount.getOrElse(
      df.select(c).filter(col(c).isNotNull).distinct().count())
    val effQ = math.min(q, distinct).toInt
    if (effQ < 2) lit(if (ascending) labels.head else labels.last)
    else if (exact) {
      val ord = if (ascending) col(c).asc else col(c).desc
      val tb = if (ascending) col(tiebreak).asc else col(tiebreak).desc
      val bucket = ntile(effQ).over(Window.orderBy(ord, tb))
      // bucket k (1-based) gets labels(k-1), matching qcut(label-list) order
      labels.take(effQ).zipWithIndex.foldLeft(lit(null).cast("int")) {
        case (acc, (lbl, i)) => when(bucket === i + 1, lbl).otherwise(acc)
      }
    } else {
      // inner fences at k/effQ for k = 1..effQ-1, ascending value order
      val probes = (1 until effQ).map(_.toDouble / effQ).toArray
      val edges = df.select(col(c).cast("double").as(c))
        .stat.approxQuantile(c, probes, relativeError)
      val v = col(c).cast("double")
      // ascending 1-based bucket index: first fence the value fits under
      val idxAsc = edges.zipWithIndex.reverse
        .foldLeft(lit(effQ).cast("int")) {
          case (acc, (e, i)) => when(v <= e, i + 1).otherwise(acc)
        }
      // descending order flips the bucket index, not the edges
      val idx = if (ascending) idxAsc else lit(effQ + 1) - idxAsc
      val lbl = labels.take(effQ).zipWithIndex
        .foldLeft(lit(null).cast("int")) {
          case (acc, (l, i)) => when(idx === i + 1, l).otherwise(acc)
        }
      when(v.isNull, lit(null).cast("int")).otherwise(lbl)
    }
  }

  /** Block 1 — RFM (reference :53-98): quintile segment "RFM" string,
    * weighted score, score category.
    */
  def rfm(df: DataFrame, tiebreak: String = "user_id",
          exact: Boolean = true): DataFrame = {
    // one agg job for all three cardinality checks (vs one job each)
    val dc = df.agg(
      countDistinct(col("rfm_recency")).as("r"),
      countDistinct(col("rfm_frequency")).as("f"),
      countDistinct(col("rfm_monetary")).as("m")).collect()(0)
    val r = quantileBucket(df, "rfm_recency", tiebreak, 5, Seq(5, 4, 3, 2, 1),
      ascending = false, Some(dc.getAs[Long]("r")), exact)
    val f = quantileBucket(df, "rfm_frequency", tiebreak, 5, Seq(1, 2, 3, 4, 5),
      ascending = true, Some(dc.getAs[Long]("f")), exact)
    val m = quantileBucket(df, "rfm_monetary", tiebreak, 5, Seq(1, 2, 3, 4, 5),
      ascending = true, Some(dc.getAs[Long]("m")), exact)
    val score = col("rfm_recency") * 0.4 + col("rfm_frequency") * 0.3 + col("rfm_monetary") * 0.3
    df.withColumns(ListMap(
      "rfm_segment" -> concat(r.cast("string"), f.cast("string"), m.cast("string")),
      "rfm_score" -> score,
      "rfm_category" ->
        cut(score, Seq(0, 25, 50, 75, 100), Seq("Low", "Medium", "High", "Very High"))))
  }

  /** Block 2 — behavioral (reference :100-134). */
  def behavioral(df: DataFrame): DataFrame =
    df.withColumns(ListMap(
      "session_intensity_30d" -> col("sessions_30d") / 30,
      "session_intensity_90d" -> col("sessions_90d") / 90,
      "engagement_ratio" -> zeroGuardDiv(col("sessions_30d"), col("sessions_90d")),
      "search_activity_ratio" -> zeroGuardDiv(col("search_queries_30d"), col("sessions_30d")),
      "pages_per_session_30d" -> col("median_pages_viewed_30d") * col("sessions_30d"),
      "email_engagement_score" ->
        (col("emails_open_rate_90d") * 0.6 + col("emails_click_rate_90d") * 0.4),
      "support_intensity" -> zeroGuardDiv(col("support_tickets_2024"), col("orders_2024"))))

  /** Block 3 — temporal (reference :136-162). */
  def temporal(df: DataFrame): DataFrame =
    df.withColumns(ListMap(
      "reg_recency_category" ->
        cut(col("reg_days"), Seq(0, 30, 90, 365, 1000, Double.PositiveInfinity),
          Seq("New", "Recent", "Established", "Long-term", "Veteran")),
      "last_order_category" ->
        cut(col("days_since_last_order"), Seq(0, 7, 30, 90, 180, Double.PositiveInfinity),
          Seq("Very Recent", "Recent", "Moderate", "Old", "Very Old")),
      "order_frequency_2024" -> col("orders_2024") / 365,
      "is_weekend_reg" -> pmod(col("reg_days"), lit(7)).isin(5, 6),
      "is_month_end" -> (pmod(col("reg_days"), lit(30)) >= 25)))

  /** Block 4 — interaction (reference :164-198). */
  def interaction(df: DataFrame): DataFrame =
    df.withColumns(ListMap(
      "value_per_session" -> zeroGuardDiv(col("gmv_2024"), col("sessions_90d")),
      "order_efficiency" -> zeroGuardDiv(col("orders_90d"), col("sessions_90d")),
      "discount_sensitivity" -> col("discount_rate_2024") * col("orders_2024"),
      "quality_score" -> col("avg_csat_2024") * col("avg_review_stars_2024"),
      "risk_score" -> col("refund_rate_2024") * col("support_tickets_2024"),
      "engagement_value" -> col("sessions_90d") * col("aov_2024")))

  /** Block 5 — domain (reference :200-238). q80 thresholds are one small
    * agg job broadcast back as literals.
    */
  def domain(df: DataFrame, exact: Boolean = true): DataFrame = {
    val pct = if (exact) "percentile" else "approx_percentile"
    val q80row = df.agg(
      expr(s"$pct(gmv_2024, 0.8)").cast("double").as("gmv_q80"),
      expr(s"$pct(aov_2024, 0.8)").cast("double").as("aov_q80")).collect()(0)
    val gmvQ80 = q80row.getAs[Double]("gmv_q80")
    val aovQ80 = q80row.getAs[Double]("aov_q80")
    df.withColumns(ListMap(
      "clv_proxy" ->
        col("gmv_2024") * (lit(365) / when(col("reg_days") === 0, 1).otherwise(col("reg_days"))),
      "purchase_consistency" -> zeroGuardDiv(col("orders_2024"), col("reg_days") / 30),
      "diversity_score" -> zeroGuardDiv(col("category_diversity_2024"), col("orders_2024")),
      // regex-by-default str.contains parity: '.' matches any char (F5)
      "is_latest_version" -> col("app_version_major").rlike("3.x"),
      "is_mobile_heavy" -> (col("device_mix_ratio") > 0.7),
      "is_high_value" -> (col("gmv_2024") > gmvQ80 || col("aov_2024") > aovQ80),
      "is_at_risk" -> (col("days_since_last_order") > 90 || col("sessions_30d") === 0 ||
        col("refund_rate_2024") > 0.1)))
  }

  /** Default categorical encoding config (reference config.yaml
    * ml.features.categorical).
    */
  val ordinalCols: Seq[String] =
    Seq("reg_recency_category", "last_order_category", "rfm_category")
  val nominalCols: Seq[String] =
    Seq("country", "city", "marketing_source", "app_version_major", "rfm_segment")

  /** Distinct levels of every categorical column in ONE job: stack to
    * (column, value) pairs, one distinct shuffle, group on the driver.
    * Null appears as the sentinel "nan" (matching `astype(str)`).
    */
  def distinctLevels(df: DataFrame, cols: Seq[String]): Map[String, Seq[String]] = {
    if (cols.isEmpty) return Map.empty
    val stacked = df.select(explode(array(cols.map(c =>
      struct(lit(c).as("c"), coalesce(col(c).cast("string"), lit("nan")).as("v"))): _*)).as("kv"))
      .select(col("kv.c").as("c"), col("kv.v").as("v"))
      .distinct().collect()
    val grouped = stacked.groupBy(_.getString(0))
    cols.map(c => c -> grouped.getOrElse(c, Array.empty)
      .map(_.getString(1)).toSeq.sorted).toMap
  }

  /** Sorted-level when-chain: the LabelEncoder code of `c`'s value, with
    * null read as the "nan" level.
    */
  private def labelCode(c: String, levels: Seq[String]): Column =
    levels.zipWithIndex.foldLeft(lit(null).cast("int")) { case (acc, (v, i)) =>
      when(coalesce(col(c).cast("string"), lit("nan")) === v, i).otherwise(acc)
    }

  /** `<c>_encoded` for every column in one projection, then the originals
    * dropped: each code lands at the end, in `cols` order.
    */
  private def withLabelCodes(
      df: DataFrame, cols: Seq[String], levels: Map[String, Seq[String]]): DataFrame =
    df.withColumns(ListMap.from(cols.map(c => s"${c}_encoded" -> labelCode(c, levels(c)))))
      .drop(cols: _*)

  /** One `(c === v).cast(int)` dummy per non-"nan" level of every column,
    * in one projection, then the originals dropped. Level values are
    * sanitized: dots/spaces in generated column names break every
    * dotted-path resolver downstream (na.fill, VectorAssembler) —
    * divergence from pandas' verbatim names, documented. When two levels
    * sanitize to the same name the later level's dummy wins, at the
    * first one's position.
    */
  private def withDummies(
      df: DataFrame, cols: Seq[String], levels: Map[String, Seq[String]]): DataFrame = {
    val dummies = cols.flatMap(c => levels(c).filterNot(_ == "nan").map { v =>
      s"${c}_${v.replaceAll("[^A-Za-z0-9_]", "_")}" -> (col(c) === v).cast("int")
    })
    df.withColumns(ListMap.from(dummies)).drop(cols: _*)
  }

  /** F14 ordinal encode with sklearn LabelEncoder parity: codes assigned by
    * lexicographic order of the distinct string values, nulls encoded as
    * the literal "nan" bucket like `astype(str)` turns NaN into "nan".
    * Implemented as a sorted-level when-chain (no StringIndexer — its
    * frequency ordering diverges, SURVEY §4 pitfall F14).
    */
  def labelEncode(df: DataFrame, cols: Seq[String]): DataFrame = {
    val present = cols.filter(df.columns.contains)
    withLabelCodes(df, present, distinctLevels(df, present))
  }

  /** F13 one-hot encode, keep-all-levels variant (features path): level
    * discovery for all columns fused into one job, sorted for
    * deterministic column order, each level a codegen'd
    * `(col === v).cast(int)` — no join, no shuffle in the encode itself.
    */
  def oneHotEncode(df: DataFrame, cols: Seq[String]): DataFrame = {
    val present = cols.filter(df.columns.contains)
    withDummies(df, present, distinctLevels(df, present))
  }

  /** Block 6 — encode (reference :240-263). Level discovery for ordinal
    * AND nominal columns happens in one job up front (the two encoders
    * touch disjoint columns, so both can read from the pre-encode frame).
    */
  def encode(df: DataFrame): DataFrame = {
    val ordinal = ordinalCols.filter(df.columns.contains)
    val nominal = nominalCols.filter(df.columns.contains)
    val levels = distinctLevels(df, ordinal ++ nominal)
    withDummies(withLabelCodes(df, ordinal, levels), nominal, levels)
  }

  /** Full feature stage in reference order (adds ~30 scalar features, then
    * encoding expands categoricals).
    */
  def engineer(df: DataFrame, exact: Boolean = true): DataFrame =
    encode(domain(interaction(temporal(behavioral(
      rfm(df, exact = exact)))), exact))
}
