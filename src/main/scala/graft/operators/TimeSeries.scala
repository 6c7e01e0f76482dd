package graft.operators

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, BinaryType, BooleanType, DoubleType, LongType, MapType, StructField, StructType}

/** Ordered per-key time-series operators that need a running SCAN rather
  * than a window: Spark window frames re-aggregate the frame per row, so
  * an unbounded exponential decay through them is O(n²) per key — the
  * 100 TB anti-pattern. These run as ONE hash shuffle on the key plus an
  * in-partition sort, then a single O(n) pass with four scalars of state;
  * keys are contiguous after the sort so state resets at each key change.
  * (Reference scope: the `ewm_*` family of the polars Expr surface the
  * derive registry mirrors — frame-level here because a running recurrence
  * is imperative by nature; no Column composition expresses it in O(n).)
  */
object TimeSeries {

  /** Which exponentially-weighted statistic a scan output column carries. */
  sealed trait EwmStat
  case object EwmMean extends EwmStat
  /** Debiased variance (polars/pandas `bias=false` default): the weighted
    * population variance scaled by S1²/(S1²−S2); null until a key has two
    * non-null observations (the debias denominator is zero at one). */
  case object EwmVar extends EwmStat
  case object EwmStd extends EwmStat

  /** Exponentially-weighted moving mean per key (polars `ewm_mean` with
    * `adjust=true`): m_i = Σ_{j<=i} (1-α)^(i-j) x_j / Σ_{j<=i} (1-α)^(i-j),
    * computed by the O(n) recurrence num_i = x_i + (1-α)·num_{i-1},
    * den_i = 1 + (1-α)·den_{i-1} over rows ordered by `ordCols` within
    * `keyCol` (make the ordering unique — include a tie-break id — or the
    * result is nondeterministic, like any ordered window). */
  def ewmMean(
      df: DataFrame,
      keyCol: String,
      ordCols: Seq[String],
      valCol: String,
      alpha: Double,
      outCol: String = "ewm_mean"
  ): DataFrame = ewmStats(df, keyCol, ordCols, valCol, alpha, Seq(outCol -> EwmMean))

  /** Exponentially-weighted mean over IRREGULAR time (polars
    * `ewm_mean_by` — the UNADJUSTED recurrence polars uses, which differs
    * from pandas' `ewm(times=…, adjust=True)`): decay follows the actual
    * time gap rather than the row count. y_first = x_first, then
    * y_i = a_i·y_{i−1} + (1 − a_i)·x_i with a_i = 0.5^((t_i − t_prev)/
    * halfLife) — one scalar of state, O(n) per key. A burst of events
    * keeps near-full weight while a quiet gap fades history; a ZERO-gap
    * (tied-time) row has a_i = 1 and therefore contributes weight 0 to
    * its own output (y_i = y_{i−1}) — polars' tie semantics, the opposite
    * of the adjusted/normalized sum(w·x)/sum(w) form where a tied row
    * gets full weight. (Divergence flagged by the round-9 advisor;
    * polars reference: `Expr.ewm_mean_by` docs, y_i = x_i + α_i·(y_{i−1}
    * − x_i), α_i = 0.5^(Δt/half_life).)
    *
    * `timeCol` must be DoubleType (cast at the call site — epoch seconds,
    * nanos, whatever, as long as `halfLife` is in the same unit; it must
    * be non-null and non-decreasing under the scan's sort, which holds by
    * construction since the scan sorts by it). Rows are ordered by
    * (timeCol, ordCols...) within the key: when ties are possible, pass a
    * unique tie-break in `ordCols` — a tied row's own output is its
    * predecessor's y, so the tie-break decides which row "precedes".
    *
    * Null values — and rows whose TIME is null or NaN, which have no
    * place on the decay axis at all: output null, state untouched.
    * Skipping costs nothing to correctness because decay derives from the
    * TIME GAP to the last observed row, not from a per-row multiply. (A
    * null time must not reach the recurrence: it would unbox as an NPE
    * deep in an executor. A NaN time is the same hazard one step later —
    * it would poison prevT and every subsequent decay for the key — so
    * both are the same explicit skip.) */
  def ewmMeanBy(
      df: DataFrame,
      keyCol: String,
      timeCol: String,
      ordCols: Seq[String],
      valCol: String,
      halfLife: Double,
      outCol: String = "ewm_mean_by"
  ): DataFrame = {
    require(halfLife > 0.0, s"halfLife must be positive, got $halfLife")
    require(df.schema(valCol).dataType == DoubleType,
      s"ewmMeanBy: '$valCol' must be DoubleType (cast at the call site), " +
        s"got ${df.schema(valCol).dataType.simpleString}")
    require(df.schema(timeCol).dataType == DoubleType,
      s"ewmMeanBy: '$timeCol' must be DoubleType (cast at the call site), " +
        s"got ${df.schema(timeCol).dataType.simpleString}")
    require(!df.columns.contains(outCol),
      s"ewmMeanBy: output column '$outCol' already exists — appending it would " +
        "create a duplicate-name schema that fails only at the next select")
    requireScanKey(df, keyCol, "ewmMeanBy")
    val outSchema = StructType(df.schema.fields :+
      StructField(outCol, DoubleType, nullable = true))
    val keyIdx = df.schema.fieldIndex(keyCol)
    val timeIdx = df.schema.fieldIndex(timeCol)
    val valIdx = df.schema.fieldIndex(valCol)
    df.repartition(col(keyCol))
      .sortWithinPartitions((Seq(keyCol, timeCol) ++ ordCols).map(col): _*)
      .mapPartitions { rows =>
        var started = false
        var curKey: Any = null
        var haveObs = false
        var prevT = 0.0
        var y = 0.0
        rows.map { r =>
          val k = r.get(keyIdx)
          if (!started || k != curKey) {
            started = true; curKey = k
            haveObs = false; prevT = 0.0; y = 0.0
          }
          val out: Any =
            if (r.isNullAt(valIdx) || r.isNullAt(timeIdx)
              || r.getDouble(timeIdx).isNaN) null
            else {
              val t = r.getDouble(timeIdx)
              val x = r.getDouble(valIdx)
              if (haveObs) {
                val a = math.pow(0.5, (t - prevT) / halfLife)
                y = a * y + (1.0 - a) * x
              } else {
                haveObs = true; y = x
              }
              prevT = t
              y
            }
          Row.fromSeq(r.toSeq :+ out)
        }
      }(Encoders.row(outSchema))
  }

  /** Segmented twin of [[ewmMeanBy]] for MEGA-KEY corpora (round-9 review
    * #3): the standard scan needs each key's whole history in ONE
    * partition — right for many medium keys, a straggler when one
    * pathological key holds e.g. 10M rows. The recurrence is an affine map
    * y ← a·y + (1−a)·x, and affine maps compose associatively, so a key's
    * history can be cut into TIME segments (seg = floor(t/segmentSpan) —
    * deterministic from data values alone, so shuffle-retry safe, unlike
    * sampled range boundaries), each segment reduced to its composed map
    * (aRest, bRest) plus its first observation, the per-segment incoming
    * states prefix-combined in a summary-sized job, and every segment then
    * replayed in parallel from its incoming state.
    *
    * Cost model: a summary scan (one shuffle on (key, seg)), the prefix
    * combine (one shuffle on key over SUMMARY rows — segments, not data),
    * and the replay (a join against the incoming states + one shuffle on
    * (key, seg)) — ~2x the single-pass shuffle volume. Pay that when a
    * key's history outgrows a partition; keep [[ewmMeanBy]] otherwise.
    * All three stages stay fully distributed: nothing key-shaped ever
    * reaches the driver.
    *
    * Equals [[ewmMeanBy]] exactly in real arithmetic; in floats the
    * boundary composition aRest·y + bRest reassociates (~1e-15 relative
    * per segment boundary; the ScalaCheck property pins 1e-9 over random
    * chunkings). Null-value and null/NaN-time rows: the identical skip
    * contract (null out, state untouched) — a skip-only segment carries
    * state through unchanged. */
  def ewmMeanBySegmented(
      df: DataFrame,
      keyCol: String,
      timeCol: String,
      ordCols: Seq[String],
      valCol: String,
      halfLife: Double,
      segmentSpan: Double,
      outCol: String = "ewm_mean_by"
  ): DataFrame = {
    require(halfLife > 0.0, s"halfLife must be positive, got $halfLife")
    require(segmentSpan > 0.0, s"segmentSpan must be positive, got $segmentSpan")
    require(df.schema(valCol).dataType == DoubleType,
      s"ewmMeanBySegmented: '$valCol' must be DoubleType (cast at the call site), " +
        s"got ${df.schema(valCol).dataType.simpleString}")
    require(df.schema(timeCol).dataType == DoubleType,
      s"ewmMeanBySegmented: '$timeCol' must be DoubleType (cast at the call site), " +
        s"got ${df.schema(timeCol).dataType.simpleString}")
    require(!df.columns.contains(outCol),
      s"ewmMeanBySegmented: output column '$outCol' already exists")
    Seq("__seg", "__in_have", "__in_y", "__in_t").filter(df.columns.contains).foreach(n =>
      throw new IllegalArgumentException(
        s"ewmMeanBySegmented: input frame already has internal column '$n' — rename it"))
    requireScanKey(df, keyCol, "ewmMeanBySegmented")

    // NaN would throw on the ANSI long cast; null/NaN-time rows land in a
    // null segment whose state is never consulted (they emit null anyway)
    val seg = when(col(timeCol).isNull || isnan(col(timeCol)), lit(null))
      .otherwise(floor(col(timeCol) / lit(segmentSpan)).cast("long"))
    val rows = df.withColumn("__seg", seg)

    val keyIdx = rows.schema.fieldIndex(keyCol)
    val segIdx = rows.schema.fieldIndex("__seg")
    val timeIdx = rows.schema.fieldIndex(timeCol)
    val valIdx = rows.schema.fieldIndex(valCol)
    val keyType = rows.schema(keyCol).dataType

    def obs(r: Row): Boolean =
      !r.isNullAt(valIdx) && !r.isNullAt(timeIdx) && !r.getDouble(timeIdx).isNaN

    // ---- pass 1: one summary row per (key, seg) over its observed rows
    val sumSchema = StructType(Seq(
      StructField(keyCol, keyType),
      StructField("__seg", LongType, nullable = true),
      StructField("n_obs", LongType, nullable = false),
      StructField("t_first", DoubleType, nullable = false),
      StructField("x_first", DoubleType, nullable = false),
      StructField("a_rest", DoubleType, nullable = false),
      StructField("b_rest", DoubleType, nullable = false),
      StructField("t_last", DoubleType, nullable = false)))
    val summaries = rows
      .repartition(col(keyCol), col("__seg"))
      .sortWithinPartitions((Seq(keyCol, "__seg", timeCol) ++ ordCols).map(col): _*)
      .mapPartitions { it =>
        new Iterator[Row] {
          private val rs = it.buffered
          def hasNext: Boolean = rs.hasNext
          def next(): Row = {
            val first = rs.next()
            val k = first.get(keyIdx)
            val s = if (first.isNullAt(segIdx)) null else first.get(segIdx)
            var nObs = 0L
            var tFirst = 0.0; var xFirst = 0.0
            var aRest = 1.0; var bRest = 0.0
            var prevT = 0.0; var tLast = 0.0
            def fold(r: Row): Unit = if (obs(r)) {
              val t = r.getDouble(timeIdx); val x = r.getDouble(valIdx)
              if (nObs == 0L) { tFirst = t; xFirst = x }
              else {
                val a = math.pow(0.5, (t - prevT) / halfLife)
                aRest *= a
                bRest = a * bRest + (1.0 - a) * x
              }
              nObs += 1L; prevT = t; tLast = t
            }
            fold(first)
            while (rs.hasNext && rs.head.get(keyIdx) == k &&
              (if (s == null) rs.head.isNullAt(segIdx)
               else !rs.head.isNullAt(segIdx) && rs.head.get(segIdx) == s)) {
              fold(rs.next())
            }
            Row(k, s, nObs, tFirst, xFirst, aRest, bRest, tLast)
          }
        }
      }(Encoders.row(sumSchema))

    // ---- prefix combine per key: the state each segment STARTS from.
    // Runs over summary rows only (segments, not data) — one small shuffle.
    val inSchema = StructType(Seq(
      StructField(keyCol, keyType),
      StructField("__seg", LongType, nullable = true),
      StructField("__in_have", BooleanType, nullable = false),
      StructField("__in_y", DoubleType, nullable = false),
      StructField("__in_t", DoubleType, nullable = false)))
    val sKeyIdx = 0; val sSegIdx = 1
    val inStates = summaries
      .repartition(col(keyCol))
      .sortWithinPartitions(col(keyCol), col("__seg").asc_nulls_first)
      .mapPartitions { it =>
        var started = false
        var curKey: Any = null
        var haveObs = false; var y = 0.0; var prevT = 0.0
        it.map { sr =>
          val k = sr.get(sKeyIdx)
          if (!started || k != curKey) {
            started = true; curKey = k
            haveObs = false; y = 0.0; prevT = 0.0
          }
          val out = Row(k, if (sr.isNullAt(sSegIdx)) null else sr.get(sSegIdx),
            haveObs, y, prevT)
          val nObs = sr.getLong(2)
          if (nObs > 0L) {
            val tFirst = sr.getDouble(3); val xFirst = sr.getDouble(4)
            val aRest = sr.getDouble(5); val bRest = sr.getDouble(6)
            if (!haveObs) { y = aRest * xFirst + bRest; haveObs = true }
            else {
              val a1 = math.pow(0.5, (tFirst - prevT) / halfLife)
              y = aRest * (a1 * y + (1.0 - a1) * xFirst) + bRest
            }
            prevT = sr.getDouble(7)
          }
          out
        }
      }(Encoders.row(inSchema))

    // ---- pass 2: replay each (key, seg) run from its incoming state.
    // Left join: a null-seg group (or an AQE-pruned empty state) starts
    // fresh, which is exactly right — its rows emit null regardless.
    val joined = rows.join(inStates, Seq(keyCol, "__seg"), "left")
    val jSchema = joined.schema
    val outSchema = StructType(df.schema.fields :+
      StructField(outCol, DoubleType, nullable = true))
    val jKeyIdx = jSchema.fieldIndex(keyCol)
    val jSegIdx = jSchema.fieldIndex("__seg")
    val jTimeIdx = jSchema.fieldIndex(timeCol)
    val jValIdx = jSchema.fieldIndex(valCol)
    val jHaveIdx = jSchema.fieldIndex("__in_have")
    val jYIdx = jSchema.fieldIndex("__in_y")
    val jTIdx = jSchema.fieldIndex("__in_t")
    // the USING join reorders columns (join keys first): project back into
    // the INPUT's declared order by name so the encoder rows line up
    val keep = df.schema.fields.map(f => jSchema.fieldIndex(f.name)).toSeq
    joined
      .repartition(col(keyCol), col("__seg"))
      .sortWithinPartitions((Seq(keyCol, "__seg", timeCol) ++ ordCols).map(col): _*)
      .mapPartitions { it =>
        var started = false
        var curKey: Any = null; var curSeg: Any = null
        var haveObs = false; var y = 0.0; var prevT = 0.0
        it.map { r =>
          val k = r.get(jKeyIdx)
          val s = if (r.isNullAt(jSegIdx)) null else r.get(jSegIdx)
          if (!started || k != curKey || s != curSeg) {
            started = true; curKey = k; curSeg = s
            if (!r.isNullAt(jHaveIdx) && r.getBoolean(jHaveIdx)) {
              haveObs = true; y = r.getDouble(jYIdx); prevT = r.getDouble(jTIdx)
            } else { haveObs = false; y = 0.0; prevT = 0.0 }
          }
          val out: Any =
            if (r.isNullAt(jValIdx) || r.isNullAt(jTimeIdx)
              || r.getDouble(jTimeIdx).isNaN) null
            else {
              val t = r.getDouble(jTimeIdx)
              val x = r.getDouble(jValIdx)
              if (haveObs) {
                val a = math.pow(0.5, (t - prevT) / halfLife)
                y = a * y + (1.0 - a) * x
              } else {
                haveObs = true; y = x
              }
              prevT = t
              y
            }
          Row.fromSeq(keep.map(r.get) :+ out)
        }
      }(Encoders.row(outSchema))
  }

  /** The complex/binary-key guard shared by every contiguous-key scan:
    * runtime `Any` equality is unreliable there and would silently reset
    * per-key state on every row. */
  private def requireScanKey(df: DataFrame, keyCol: String, fn: String): Unit =
    df.schema(keyCol).dataType match {
      case _: ArrayType | _: MapType | _: StructType | BinaryType =>
        throw new IllegalArgumentException(
          s"$fn: key '$keyCol' has a complex/binary type " +
            s"(${df.schema(keyCol).dataType.simpleString}) whose runtime equality " +
            "is unreliable for the contiguous-key reset — key on an atomic column " +
            "(hash complex keys first)")
      case _ => ()
    }

  /** The shared scan: any subset of {mean, var, std} in ONE pass, appended
    * in `outCols` order. State per key is four scalars — S1 = Σw,
    * S2 = Σw², S1x = Σw·x, S1x2 = Σw·x² with w = (1-α)^(i-j) — each
    * advanced by one multiply-add per row, so cost is O(n) regardless of
    * how many statistics are requested (requesting var+std together costs
    * one scan, not two).
    *
    * Null values yield null outputs and do NOT advance the decay (the
    * series behaves as if the null row were absent — polars
    * `ignore_nulls=true` semantics). `valCol` must already be DoubleType;
    * cast at the call site so the output schema is explicit.
    *
    * The variance subtraction S1x2/S1 − mean² can go epsilon-negative in
    * floating point when a key's values are constant; it is clamped at
    * zero so `ewm_std` never produces NaN from sqrt(−1e−18).
    *
    * Key equality: the contiguous-key reset compares `Any` values, which
    * is correct for atomic key types but reference-based for binary and
    * undefined for other complex types — an array-keyed call would
    * silently reset state on every row. Guarded by a `require` rather
    * than documentation alone.
    *
    * This is a justified `mapPartitions` (same class as the multimodal
    * codec seam): partition-preserving after its single shuffle, per-key
    * state is four scalars, no driver involvement, no window
    * re-aggregation. */
  def ewmStats(
      df: DataFrame,
      keyCol: String,
      ordCols: Seq[String],
      valCol: String,
      alpha: Double,
      outCols: Seq[(String, EwmStat)]
  ): DataFrame = {
    require(alpha > 0.0 && alpha <= 1.0, s"alpha must be in (0, 1], got $alpha")
    require(outCols.nonEmpty, "ewmStats: at least one output column required")
    require(outCols.map(_._1).distinct.size == outCols.size,
      s"ewmStats: duplicate output column names in ${outCols.map(_._1)}")
    outCols.foreach { case (name, _) =>
      require(!df.columns.contains(name),
        s"ewmStats: output column '$name' already exists — appending it would " +
          "create a duplicate-name schema that fails only at the next select")
    }
    require(df.schema(valCol).dataType == DoubleType,
      s"ewmStats: '$valCol' must be DoubleType (cast at the call site), " +
        s"got ${df.schema(valCol).dataType.simpleString}")
    requireScanKey(df, keyCol, "ewmStats")
    val outSchema = StructType(df.schema.fields ++
      outCols.map { case (name, _) => StructField(name, DoubleType, nullable = true) })
    val keyIdx = df.schema.fieldIndex(keyCol)
    val valIdx = df.schema.fieldIndex(valCol)
    val stats = outCols.map(_._2)
    val decay = 1.0 - alpha
    df.repartition(col(keyCol))
      .sortWithinPartitions((keyCol +: ordCols).map(col): _*)
      .mapPartitions { rows =>
        // contiguous-key scan: state lives across rows of one key only
        var started = false
        var curKey: Any = null
        var s1 = 0.0 // Σ w
        var s2 = 0.0 // Σ w²
        var s1x = 0.0 // Σ w·x
        var s1x2 = 0.0 // Σ w·x²
        rows.map { r =>
          val k = r.get(keyIdx)
          if (!started || k != curKey) {
            started = true; curKey = k
            s1 = 0.0; s2 = 0.0; s1x = 0.0; s1x2 = 0.0
          }
          val outs: Seq[Any] =
            if (r.isNullAt(valIdx)) stats.map(_ => null)
            else {
              val x = r.getDouble(valIdx)
              s1 = 1.0 + decay * s1
              s2 = 1.0 + decay * decay * s2
              s1x = x + decay * s1x
              s1x2 = x * x + decay * s1x2
              val mean = s1x / s1
              // debias denominator is exactly 0.0 at a key's first non-null
              // row (s1 = s2 = 1); var/std are null there, mean is defined
              lazy val varDen = s1 * s1 - s2
              lazy val variance =
                if (varDen <= 0.0) null
                else math.max(0.0, s1x2 / s1 - mean * mean) * (s1 * s1) / varDen
              stats.map {
                case EwmMean => mean
                case EwmVar => variance
                case EwmStd =>
                  if (variance == null) null
                  else math.sqrt(variance.asInstanceOf[Double])
              }
            }
          Row.fromSeq(r.toSeq ++ outs)
        }
      }(Encoders.row(outSchema))
  }
}
