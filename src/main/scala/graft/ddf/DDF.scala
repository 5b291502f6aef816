package graft.ddf

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The DDF-equivalent surface of the reference library
  * (eubr-bigsea/Compss-Python :: ddf_library/ddf.py :: class DDF),
  * re-expressed as a thin wrapper over Spark's `DataFrame`.
  *
  * Design (SURVEY.md §7): one DDF == one `DataFrame`; the reference's
  * per-fragment pandas kernels (ddf_library/functions/etl/&lt;op&gt;.py) map to
  * declarative Catalyst plans, so predicate pushdown / column pruning /
  * partial aggregation / broadcast-join selection are decided by the
  * optimizer rather than hand-scheduled. Nothing here materializes data
  * on the driver except the explicit actions (`show`, `collect`,
  * `countRows`) — the 100 TB design rule.
  *
  * Null semantics are SQL (3-valued), a deliberate divergence from the
  * reference's pandas NaN behavior (SURVEY.md §1).
  */
class DDF(val df: DataFrame) {
  import DDF._

  private def wrap(d: DataFrame): DDF = new DDF(d)
  def spark: SparkSession = df.sparkSession

  // ===== §2.2 projection / row-wise =====================================

  /** reference: ddf.py :: select / functions/etl/select.py */
  def select(cols: Seq[String]): DDF = wrap(df.select(cols.map(col): _*))

  /** reference: ddf.py :: select_expression — pandas-eval assignment
    * expressions like "revenue = price * (1 - discount)". Plain
    * expressions (no '=') are projected as-is. Catalyst expressions are
    * a strict superset of pandas eval (SURVEY.md §2.2).
    */
  def selectExpression(exprs: String*): DDF = {
    val assign = "^\\s*([A-Za-z_][A-Za-z0-9_]*)\\s*=(?![=])\\s*(.+)$".r
    wrap(exprs.foldLeft(df) { (d, e) =>
      e match {
        case assign(name, rhs) => d.withColumn(name, expr(DDF.translateExpr(rhs)))
        case other => d.withColumn(other.trim, expr(DDF.translateExpr(other)))
      }
    })
  }

  /** pandas `eval(expr, local_dict=...)`: `@name` references resolve
    * from `params` and inline as SQL literals. */
  def selectExpression(exprs: Seq[String], params: Map[String, Any]): DDF =
    selectExpression(exprs.map(DDF.substituteParams(_, params)): _*)

  /** reference: ddf.py :: drop / functions/etl/drop.py */
  def drop(cols: Seq[String]): DDF = wrap(df.drop(cols: _*))

  /** reference: ddf.py :: with_column_renamed / attributes_changer.py */
  def rename(oldName: String, newName: String): DDF =
    wrap(df.withColumnRenamed(oldName, newName))

  /** reference: ddf.py :: cast / functions/etl/attributes_changer.py.
    * Reference cast targets: integer | decimal | string | date.
    */
  def cast(column: String, to: String): DDF =
    wrap(df.withColumn(column, col(column).cast(sqlType(to))))

  /** reference: ddf.py :: map / functions/etl/map.py — row-wise function
    * producing a new column. The reference takes an arbitrary Python
    * lambda; here we take a Catalyst `Column` so the expression stays
    * inside whole-stage codegen (SURVEY.md §7 "map lambdas").
    */
  def map(e: Column, alias: String): DDF = wrap(df.withColumn(alias, e))

  /** reference: ddf.py :: filter / functions/etl/filter.py — pandas
    * `query` string. Minimal dialect translation (`&`→AND, `|`→OR,
    * `~`→NOT); `==`, `and`, `or`, `not` are already valid Catalyst SQL.
    * Declarative, so Catalyst pushes it into the parquet scan.
    */
  def filter(predicate: String): DDF =
    wrap(df.filter(expr(translateQuery(predicate))))
  /** pandas `query(expr, local_dict=...)`: `@name` references resolve
    * from `params` and inline as SQL literals. */
  def filter(predicate: String, params: Map[String, Any]): DDF =
    wrap(df.filter(expr(translateQuery(
      DDF.substituteParams(predicate, params)))))
  def filter(predicate: Column): DDF = wrap(df.filter(predicate))

  /** reference: ddf.py :: replace / functions/etl/replace_values.py */
  def replace[T](mapping: Map[T, T], subset: Seq[String]): DDF =
    wrap(df.na.replace(subset, mapping))

  /** reference: ddf.py :: fillna / functions/etl/clean_missing.py.
    * VALUE mode is a narrow transform; MEAN / MEDIAN / MODE need one
    * global aggregation job first (same shape as the reference's
    * stats-then-fill two-phase plan), then a narrow fill.
    *
    * `approxMedian`: MEDIAN's exact `median()` is a sort-based
    * aggregate — correct, and the oracle mode, but at 100 TB the scale
    * option is `approx_percentile` (t-digest sketch, one streaming
    * pass, no sort): set approxMedian = true to use it. Same plan
    * shape, bounded-error fill value (both modes spec-pinned).
    */
  def fillna(cols: Seq[String], how: FillMode = FillWithValue,
             value: Any = null, approxMedian: Boolean = false): DDF = how match {
    case FillWithValue =>
      wrap(value match {
        case s: String  => df.na.fill(s, cols)
        case d: Double  => df.na.fill(d, cols)
        case l: Long    => df.na.fill(l, cols)
        case i: Int     => df.na.fill(i.toLong, cols)
        case b: Boolean => df.na.fill(b, cols)
        case other      => sys.error(s"unsupported fill value: $other")
      })
    case statMode =>
      val aggFor: String => Column = statMode match {
        case FillWithMean   => c => avg(col(c))
        case FillWithMedian =>
          // cast to double either way: median() returns double, and
          // approx_percentile would otherwise keep the input type —
          // the fill upcast must not depend on the mode
          if (approxMedian)
            c => approx_percentile(col(c).cast("double"), lit(0.5), lit(10000))
          else c => median(col(c))  // exact, single agg
        case _              => c => mode(col(c))
      }
      val statsRow = df.agg(aggFor(cols.head).as(cols.head),
        cols.tail.map(c => aggFor(c).as(c)): _*).head()
      // coalesce (not na.fill): widens the column type so an int
      // column filled with a fractional mean becomes double, matching
      // the reference's pandas upcast behavior
      wrap(cols.zipWithIndex.foldLeft(df) { case (acc, (c, i)) =>
        Option(statsRow.get(i)) match {
          case Some(v) => acc.withColumn(c,
            org.apache.spark.sql.functions.coalesce(col(c), lit(v)))
          case None    => acc // all-null column: nothing to fill with
        }
      })
  }

  /** reference: ddf.py :: dropna / functions/etl/clean_missing.py.
    * Row mode is narrow; column mode (REMOVE_COLUMN) needs one global
    * null-count aggregation, then a metadata-only projection.
    */
  def dropna(cols: Seq[String] = Nil, how: String = "any",
             thresh: Int = -1, removeColumns: Boolean = false): DDF = {
    val subset = if (cols.isEmpty) df.columns.toSeq else cols
    if (!removeColumns) {
      if (thresh >= 0) wrap(df.na.drop(thresh, subset))
      else wrap(df.na.drop(how, subset))
    } else {
      val counts = df.agg(
        count(lit(1)).as("__n"),
        subset.map(c => count(col(c)).as(c)): _*).head()
      val n = counts.getLong(0)
      val toDrop = subset.zipWithIndex.filter { case (c, i) =>
        val nonNull = counts.getLong(i + 1)
        how match {
          case "all" => nonNull == 0L          // drop col only if ALL null
          case _     => nonNull < n            // drop col if ANY null
        }
      }.map(_._1)
      wrap(df.drop(toDrop: _*))
    }
  }

  /** reference: ddf.py :: explode / functions/etl/explode.py */
  def explodeCol(column: String): DDF =
    wrap(df.withColumn(column, explode(col(column))))

  /** melt/unpivot (engine ext — absent in the reference, free in
    * Spark): wide → long on `valueCols`, keyed by `idCols`. */
  def melt(idCols: Seq[String], valueCols: Seq[String],
           variableName: String = "variable",
           valueName: String = "value"): DDF =
    wrap(df.unpivot(idCols.map(col).toArray, valueCols.map(col).toArray,
      variableName, valueName))

  // ===== §2.3 joins ======================================================

  /** reference: ddf.py :: join / functions/etl/join.py +
    * etl/hash_partitioner.py. The reference always shuffle-hash-joins;
    * here Catalyst + AQE pick broadcast / sort-merge / shuffle-hash.
    * Clashing non-key columns get the reference's suffix treatment.
    */
  def join(other: DDF, key1: Seq[String], key2: Seq[String],
           mode: String = "inner",
           suffixes: (String, String) = ("_l", "_r")): DDF = {
    val clash = (df.columns.toSet -- key1)
      .intersect(other.df.columns.toSet -- key2)
    val l = clash.foldLeft(df)((d, c) =>
      d.withColumnRenamed(c, c + suffixes._1))
    val r = clash.foldLeft(other.df)((d, c) =>
      d.withColumnRenamed(c, c + suffixes._2))
    val cond = key1.zip(key2).map { case (a, b) => l(a) === r(b) }
      .reduce(_ && _)
    val joined = l.join(r, cond, translateJoinMode(mode))
    // de-duplicate the right-side key columns when names coincide.
    // For right/full joins the LEFT key is null on unmatched right
    // rows, so the kept column must be coalesce(l.key, r.key) — just
    // dropping the right side would lose the key value. Built as one
    // explicit projection: same-name duplicates make withColumn/drop
    // ambiguous.
    val sameKeys = key1.zip(key2).filter { case (a, b) => a == b }
    val merged =
      if (sameKeys.isEmpty) joined
      else {
        val outer = Set("right_outer", "full_outer", "outer")
          .contains(translateJoinMode(mode))
        val lCols = l.columns.map { c =>
          if (outer && sameKeys.exists(_._1 == c))
            org.apache.spark.sql.functions.coalesce(l(c), r(c)).as(c)
          else l(c)
        }
        val rCols = r.columns
          .filter(c => !sameKeys.exists(_._2 == c)).map(r(_))
        joined.select((lCols ++ rCols).toSeq: _*)
      }
    wrap(merged)
  }

  /** reference: ddf.py :: cross_join / functions/etl/cross_join.py */
  def crossJoin(other: DDF): DDF = wrap(df.crossJoin(other.df))

  // Spark-native join modes absent in the reference, exposed for free:
  def semiJoin(other: DDF, keys: Seq[String]): DDF =
    wrap(df.join(other.df, keys, "left_semi"))
  def antiJoin(other: DDF, keys: Seq[String]): DDF =
    wrap(df.join(other.df, keys, "left_anti"))

  /** [[graft.operators.Skew.saltedJoin]] fluent face (r12; hybrid
    * r13; right/full r14): salts ONLY census-hot keys — hot
    * random-side rows spread across `salt` reducers, hot
    * replicated-side rows replicate salt-fold, cold rows ride salt 0
    * (replication ∝ hot rows, never salt × dim side).
    * Answer-preserving for inner/left/right/full (oracle-gated
    * q215/q247/q248); `hotKeyThreshold = 0` self-sizes from the
    * census (left for inner/left/full, right for right mode). */
  def saltedJoin(other: DDF, keys: Seq[String], salt: Int,
                 mode: String = "inner", hotKeyThreshold: Long = 0L,
                 maxHotKeys: Int = 10000): DDF =
    wrap(graft.operators.Skew.saltedJoin(df, other.df, keys, salt,
      mode, hotKeyThreshold = hotKeyThreshold, maxHotKeys = maxHotKeys))

  // ===== §2.4 aggregation ===============================================

  /** reference: ddf.py :: group_by / functions/etl/aggregation.py.
    * Spark's partial/final hash aggregation is the same partial-merge
    * algorithm the reference hand-codes, generated by Catalyst.
    */
  def groupBy(keys: Seq[String]): GroupedDDF = new GroupedDDF(df, keys)

  /** reference: ddf.py :: count_rows */
  def countRows(): Long = df.count()

  /** reference: ddf.py :: distinct / functions/etl/distinct.py.
    * keep="any" maps to dropDuplicates (one hash agg, no sort);
    * keep="first"/"last" get deterministic semantics via a row_number
    * window over `orderCols` (the reference relies on fragment order,
    * which Spark deliberately does not preserve across shuffles).
    */
  def distinct(cols: Seq[String], keep: String = "any",
               orderCols: Seq[String] = Nil): DDF = keep match {
    case "any" =>
      wrap(df.dropDuplicates(cols))
    case k =>
      require(orderCols.nonEmpty,
        "keep=first/last needs orderCols (Spark partitions are unordered)")
      val ord = orderCols.map(c =>
        if (k == "last") col(c).desc else col(c).asc)
      val w = Window.partitionBy(cols.map(col): _*).orderBy(ord: _*)
      wrap(df.withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1).drop("__rn"))
  }

  /** reference: ddf.py :: drop_duplicates (= distinct over all cols) */
  def dropDuplicates(): DDF = wrap(df.distinct())

  // ===== §2.5 sort / limit / sample / partitioning ======================

  /** reference: ddf.py :: sort / functions/etl/sort.py +
    * etl/range_partitioner.py. Spark's orderBy IS the reference's
    * sample-based range-partition + local sort (RangePartitioner).
    */
  def sort(cols: Seq[String], ascending: Seq[Boolean] = Nil): DDF = {
    val asc = if (ascending.isEmpty) Seq.fill(cols.size)(true)
              else ascending
    val sortCols = cols.zip(asc).map { case (c, a) =>
      if (a) col(c).asc else col(c).desc }
    wrap(df.orderBy(sortCols: _*))
  }

  /** reference: ddf.py :: take / functions/etl/take.py. Spark `limit`;
    * "first n in fragment order" is only deterministic after an explicit
    * sort (SURVEY.md §7 row-position trap).
    */
  def take(n: Int): DDF = wrap(df.limit(n))

  /** orderBy + limit — Catalyst fuses to TakeOrderedAndProject (top-k
    * per partition + driver merge; no global shuffle). */
  def topK(n: Int, cols: Seq[String], ascending: Seq[Boolean] = Nil): DDF =
    sort(cols, ascending).take(n)

  /** reference: ddf.py :: sample / functions/etl/sample.py */
  def sample(fraction: Double, seed: Long = 42L): DDF =
    wrap(df.sample(withReplacement = false, fraction, seed))

  /** exact-n sample: per-partition top-k on rand() fused to
    * TakeOrderedAndProject — no global sort materialization. */
  def sampleN(n: Int, seed: Long = 42L): DDF =
    wrap(df.orderBy(rand(seed)).limit(n))

  /** stratified sample: per-stratum fractions (engine ext — the
    * reference has uniform sample only; per-language / per-source
    * quotas are the training-data version). One scan, no shuffle. */
  def sampleBy[T](colName: String, fractions: Map[T, Double],
                  seed: Long = 42L): DDF =
    wrap(df.stat.sampleBy(colName, fractions, seed))

  /** reference: ddf.py :: split / functions/etl/split.py */
  def split(fraction: Double, seed: Long = 42L): (DDF, DDF) = {
    val parts = df.randomSplit(Array(fraction, 1.0 - fraction), seed)
    (wrap(parts(0)), wrap(parts(1)))
  }

  /** Deterministic content-hash split (engine ext — the training-data
    * version of split): membership is a pure function of the ID, so
    * the same row lands on the same side across reruns, cluster sizes,
    * and partition layouts — unlike `split`, whose RNG draw depends on
    * partition order. The standard way to hold out an eval set that
    * stays disjoint from training data forever. First element gets
    * ~`fraction` of rows. Hash = first 8 hex chars of md5(id as
    * string), compared as a number — uniform on [0, 2^32). */
  def hashSplit(idCol: String, fraction: Double): (DDF, DDF) = {
    require(fraction >= 0 && fraction <= 1,
      s"fraction must be in [0,1], got $fraction")
    val bucket = graft.expressions.TextExpressions.md5Prefix(
      col(idCol).cast("string"), 8)
    val cut = (fraction * 4294967296.0).toLong
    (wrap(df.filter(bucket < cut)), wrap(df.filter(bucket >= cut)))
  }

  /** Join per-group `stats` (one row per `by` group) back onto this
    * frame — the scale-safe exact replacement for a whole-group
    * window: the stats are true partial aggregates (map-side
    * combined), the data side never buffers a group in one task, and
    * with `broadcastStats` the big side does not shuffle AT ALL.
    * Null-safe key equality so a null group matches its stats row
    * exactly like a window partition would. Stat columns arrive
    * appended; caller consumes and drops them. */
  private def joinGroupStats(stats: DataFrame, by: Seq[String],
                             broadcastStats: Boolean): DataFrame = {
    val renamed = by.foldLeft(stats)((d, k) => d.withColumnRenamed(k, s"__g_$k"))
    val s = if (broadcastStats) broadcast(renamed) else renamed
    if (by.isEmpty) df.crossJoin(s)
    else df.join(s, by.map(k => col(k) <=> col(s"__g_$k")).reduce(_ && _))
      .drop(by.map(k => s"__g_$k"): _*)
  }

  /** Per-group z-score normalization (engine ext, the relational face
    * of ml's StandardScaler): (x − mean)/stddev over the `by` groups.
    * mean/stddev are partial aggregates, so the stats shrink to one
    * row per group map-side and broadcast back (`broadcastStats`,
    * default) — the big side never shuffles and no task buffers a
    * group, unlike the window formulation. Set
    * `broadcastStats = false` when `by` cardinality itself is huge:
    * same exact answer via a shuffled equi-join. Empty `by` =
    * whole-frame stats, one-row broadcast. */
  def zscore(valueCol: String, by: Seq[String] = Nil,
             out: String = "zscore",
             broadcastStats: Boolean = true): DDF = {
    val v = col(valueCol)
    val stats = (if (by.isEmpty) df.groupBy() else df.groupBy(by.map(col): _*))
      .agg(avg(v).as("__zmean"), stddev_samp(v).as("__zstd"))
    wrap(joinGroupStats(stats, by, broadcastStats)
      .withColumn(out, (v - col("__zmean")) / col("__zstd"))
      .drop("__zmean", "__zstd"))
  }

  /** Tukey-fence outlier filter (engine ext): keep rows inside
    * [q1 − k·IQR, q3 + k·IQR] of their group's `valueCol`
    * distribution — the standard robust trim before training-metric
    * aggregation. Exact percentiles (same linear interpolation as
    * DuckDB quantile_cont) as GROUPED aggregates joined back
    * ([[joinGroupStats]]): the percentile buffer is bounded by
    * distinct values per group (value→count map, merged map-side),
    * not group row count, and the data side stays shuffle-free when
    * the stats broadcast. */
  def iqrFilter(valueCol: String, by: Seq[String] = Nil,
                k: Double = 1.5, broadcastStats: Boolean = true): DDF = {
    val v = col(valueCol)
    // r19 (guide §2.5): a single-file scan arrives as ONE partition,
    // so the exact-percentile partial aggregation — the expensive
    // value→count map build — ran in one task. Spreading the
    // projected stats input parallelizes it; the RESULT is exactly
    // partitioning-independent (integer count maps merge
    // commutatively, interpolation runs over the merged sorted
    // census), unlike mean/stddev whose FP sum order would drift.
    val statsIn = graft.operators.Partitioning.spread(
      df.select((by :+ valueCol).distinct.map(col): _*))
    val stats = (if (by.isEmpty) statsIn.groupBy()
                 else statsIn.groupBy(by.map(col): _*))
      .agg(percentile(v, lit(0.25)).as("__q1"),
        percentile(v, lit(0.75)).as("__q3"))
    val iqr = col("__q3") - col("__q1")
    wrap(joinGroupStats(stats, by, broadcastStats)
      .filter(v >= col("__q1") - iqr * lit(k) &&
        v <= col("__q3") + iqr * lit(k))
      .drop("__q1", "__q3"))
  }

  /** [[iqrFilter]]'s sketch path for groups whose DISTINCT-value
    * count alone overwhelms the exact percentile's value→count
    * buffer (continuous measurements at corpus scale): per-group
    * `approx_percentile` quartiles (bounded KLL-style sketch state,
    * partial-aggregated map-side) joined back like every grouped
    * stat. DOCUMENTED DIVERGENCE mirroring [[winsorizeApprox]]:
    * sketch quartiles are real group elements within ±1/`accuracy`
    * rank error, not interpolated values, so the Tukey fences can
    * shift by a neighboring element and admit/drop borderline rows
    * the exact path would not. */
  def iqrFilterApprox(valueCol: String, by: Seq[String] = Nil,
                      k: Double = 1.5, broadcastStats: Boolean = true,
                      accuracy: Int = 10000): DDF = {
    val v = col(valueCol)
    val stats = (if (by.isEmpty) df.groupBy() else df.groupBy(by.map(col): _*))
      .agg(percentile_approx(v, lit(0.25), lit(accuracy)).as("__q1"),
        percentile_approx(v, lit(0.75), lit(accuracy)).as("__q3"))
    val iqr = col("__q3") - col("__q1")
    wrap(joinGroupStats(stats, by, broadcastStats)
      .filter(v >= col("__q1") - iqr * lit(k) &&
        v <= col("__q3") + iqr * lit(k))
      .drop("__q1", "__q3"))
  }

  /** Per-group winsorization (engine ext): CLIP `valueCol` to its
    * group's [pLo, pHi] percentile band instead of dropping rows —
    * the outlier treatment that preserves row count (loss clipping,
    * feature capping). Same exact grouped-percentile + stats-join
    * machinery as [[iqrFilter]]; [[winsorizeApprox]] remains the
    * sketch path for groups whose DISTINCT-value count alone breaks
    * the exact percentile buffer. */
  def winsorize(valueCol: String, by: Seq[String] = Nil,
                pLo: Double = 0.01, pHi: Double = 0.99,
                out: String = "", broadcastStats: Boolean = true): DDF = {
    require(pLo >= 0 && pHi <= 1 && pLo < pHi,
      s"need 0 <= pLo < pHi <= 1, got ($pLo, $pHi)")
    val v = col(valueCol)
    val stats = (if (by.isEmpty) df.groupBy() else df.groupBy(by.map(col): _*))
      .agg(percentile(v, lit(pLo)).as("__wlo"),
        percentile(v, lit(pHi)).as("__whi"))
    wrap(joinGroupStats(stats, by, broadcastStats)
      .withColumn(if (out.isEmpty) valueCol else out,
        least(greatest(v, col("__wlo")), col("__whi")))
      .drop("__wlo", "__whi"))
  }

  /** [[winsorize]]'s mega-group scale path: the exact window
    * percentile buffers each group inside one task, so a 10⁸-row
    * group is a single-task sort. This variant aggregates per-group
    * `approx_percentile` sketches (partial-aggregated map-side,
    * bounded state) and broadcast-or-shuffle-joins the two band
    * values back — no task ever holds a group. DOCUMENTED
    * DIVERGENCE from [[winsorize]]: approx_percentile returns a real
    * element within ±1/`accuracy` rank error, not the interpolated
    * quantile, so band edges can differ from the exact path by one
    * neighboring value. */
  def winsorizeApprox(valueCol: String, by: Seq[String] = Nil,
                      pLo: Double = 0.01, pHi: Double = 0.99,
                      out: String = "", accuracy: Int = 10000): DDF = {
    require(pLo >= 0 && pHi <= 1 && pLo < pHi,
      s"need 0 <= pLo < pHi <= 1, got ($pLo, $pHi)")
    val v = col(valueCol)
    val bands = (if (by.isEmpty) df.groupBy() else df.groupBy(by.map(col): _*))
      .agg(percentile_approx(v, lit(pLo), lit(accuracy)).as("__wlo"),
        percentile_approx(v, lit(pHi), lit(accuracy)).as("__whi"))
    val joined = if (by.isEmpty) df.crossJoin(broadcast(bands))
                 else df.join(bands, by)
    wrap(joined.withColumn(if (out.isEmpty) valueCol else out,
      least(greatest(v, col("__wlo")), col("__whi")))
      .drop("__wlo", "__whi"))
  }

  /** Exact quantile discretizer (engine ext): adds `out` ∈ [1, k] =
    * the row's ntile bucket of `valueCol` (ties broken by `tieCols`
    * so the assignment is deterministic and oracle-testable). With
    * `partitionBy` the sort is per-group via a window — scale-safe
    * when no single group dominates. EMPTY `partitionBy` takes the
    * 2-pass range-partitioned rank instead ([[ntileGlobal]]): exact
    * same assignment as a global `ntile(k)` window, but the total
    * sort is spread across range partitions (the TeraSort shape Save
    * .shards already uses) rather than funneled through one task. */
  def ntileBucket(valueCol: String, k: Int, out: String = "bucket",
                  partitionBy: Seq[String] = Nil,
                  tieCols: Seq[String] = Nil): DDF = {
    require(k >= 2, s"k must be at least 2, got $k")
    if (partitionBy.isEmpty) ntileGlobal(valueCol, k, out, tieCols)
    else {
      val w = Window.partitionBy(partitionBy.map(col): _*)
        .orderBy((col(valueCol) +: tieCols.map(col)).map(_.asc): _*)
      wrap(df.withColumn(out, ntile(k).over(w)))
    }
  }

  /** Global exact ntile without the single-task total sort: range-
    * partition on the sort key (parallel sort, disjoint key ranges in
    * partition order), count rows per partition in one light job, and
    * convert per-partition row numbers to global ranks with the
    * driver-side offsets (bounded by the partition count) — then the
    * closed-form SQL ntile bucket of each rank. The counts job and
    * the output read the SAME shuffled RDD, so map outputs are reused
    * (no resample between passes, nothing cached/pinned). Per-
    * partition sequential numbering is genuine imperative logic, the
    * one place mapPartitions beats any relational encoding. EAGER:
    * the counting job runs at call time. Ties beyond `tieCols` fall
    * to an arbitrary stable order, exactly like the window variant. */
  def ntileGlobal(valueCol: String, k: Int, out: String = "bucket",
                  tieCols: Seq[String] = Nil): DDF = {
    require(k >= 2, s"k must be at least 2, got $k")
    val spark = df.sparkSession
    val sortCols = (col(valueCol) +: tieCols.map(col)).map(_.asc)
    val sorted = df.drop(out).repartitionByRange(sortCols: _*)
      .sortWithinPartitions(sortCols: _*)
    val schema = StructType(sorted.schema.fields :+
      StructField(out, IntegerType, nullable = false))
    val rdd = sorted.rdd
    // count with a Long accumulator: Iterator.size counts in an Int
    // and would overflow past ~2.1B rows in one range partition — a
    // reachable edge at the scale this method exists for
    val counts = rdd.mapPartitionsWithIndex((i, it) => {
        var n = 0L; while (it.hasNext) { it.next(); n += 1 }
        Iterator((i, n))
      }, preservesPartitioning = true)
      .collect().sortBy(_._1).map(_._2)
    val offsets = counts.scanLeft(0L)(_ + _)
    val n = offsets.last
    // SQL ntile: the first n % k buckets carry one extra row
    val small = n / k; val rem = n % k; val cut = rem * (small + 1)
    val ranked = rdd.mapPartitionsWithIndex { (i, it) =>
      var r = offsets(i)
      it.map { row =>
        r += 1
        val b = if (r <= cut) (r - 1) / (small + 1) + 1
                else rem + (r - 1 - cut) / small + 1
        Row.fromSeq(row.toSeq :+ b.toInt)
      }
    }
    wrap(spark.createDataFrame(ranked, schema))
  }

  /** k-fold assignment (engine ext, same hash family as
    * [[hashSplit]]): adds `foldCol` ∈ [0, k) = md5-bucket of the id
    * mod k — deterministic and layout-stable, so cross-validation
    * folds and sharded eval holdouts survive reruns and repartitions.
    * Pure column math, no shuffle; folds are near-uniform (the 32-bit
    * bucket space mod k skews by at most 1 part in 2³²/k). */
  def withFold(idCol: String, k: Int, foldCol: String = "fold"): DDF = {
    require(k >= 2, s"k must be at least 2, got $k")
    wrap(df.withColumn(foldCol,
      pmod(graft.expressions.TextExpressions.md5Prefix(
        col(idCol).cast("string"), 8), lit(k.toLong)).cast("int")))
  }

  /** reference: functions/etl/hash_partitioner.py */
  def hashPartition(cols: Seq[String], nfrag: Int): DDF =
    wrap(df.repartition(nfrag, cols.map(col): _*))

  /** reference: functions/etl/range_partitioner.py */
  def rangePartition(cols: Seq[String], nfrag: Int,
                     ascending: Seq[Boolean] = Nil): DDF = {
    val asc = if (ascending.isEmpty) Seq.fill(cols.size)(true)
              else ascending
    val sortCols = cols.zip(asc).map { case (c, a) =>
      if (a) col(c).asc else col(c).desc }
    wrap(df.repartitionByRange(nfrag, sortCols: _*))
  }

  /** reference: functions/etl/repartition.py / balancer.py. AQE
    * coalesces/balances post-shuffle partitions at runtime. */
  def repartition(nfrag: Int): DDF = wrap(df.repartition(nfrag))
  def coalesce(nfrag: Int): DDF = wrap(df.coalesce(nfrag))

  /** reference: ddf.py :: num_of_partitions */
  def numOfPartitions(): Int = df.rdd.getNumPartitions

  def cache(): DDF = { df.cache(); this }
  def unpersist(): DDF = { df.unpersist(); this }

  // ===== §2.6 set operations ============================================

  /** reference: ddf.py :: union / functions/etl/union.py (positional) */
  def union(other: DDF): DDF = wrap(df.union(other.df))

  /** reference: ddf.py :: union_by_name */
  def unionByName(other: DDF, allowMissingColumns: Boolean = false): DDF =
    wrap(df.unionByName(other.df, allowMissingColumns))

  /** reference: ddf.py :: add_column / functions/etl/add_columns.py —
    * positional zip of two tables (see graft.operators.Zip). */
  def addColumn(other: DDF,
                suffixes: (String, String) = ("_l", "_r")): DDF =
    wrap(graft.operators.Zip.zipByIndex(df, other.df, suffixes))

  /** reference: ddf.py :: intersect / functions/etl/intersect.py */
  def intersect(other: DDF): DDF = wrap(df.intersect(other.df))
  def intersectAll(other: DDF): DDF = wrap(df.intersectAll(other.df))

  /** reference: ddf.py :: subtract / except_all
    * (functions/etl/except_all.py) */
  def subtract(other: DDF): DDF = wrap(df.except(other.df))
  def exceptAll(other: DDF): DDF = wrap(df.exceptAll(other.df))

  // ===== §2.7 statistics =================================================

  /** reference: functions/statistics :: correlation (Pearson) */
  def correlation(c1: String, c2: String): Double = df.stat.corr(c1, c2)

  /** reference: functions/statistics :: covariance (sample) */
  def covariance(c1: String, c2: String): Double = df.stat.cov(c1, c2)

  /** reference: functions/statistics :: cross_tab */
  def crossTab(c1: String, c2: String): DDF =
    wrap(df.stat.crosstab(c1, c2))

  /** reference: functions/statistics :: describe. Unlike Spark's
    * string-typed `describe`, returns one typed row per column:
    * (column, count, mean, stddev, min, max) — oracle-friendly. */
  def describeNumeric(cols: Seq[String]): DDF = {
    val rows = cols.map { c =>
      df.agg(
        count(col(c)).as("n"),
        avg(col(c)).as("mean"),
        stddev_samp(col(c)).as("stddev"),
        min(col(c)).cast(DoubleType).as("min"),
        max(col(c)).cast(DoubleType).as("max"))
        .select(lit(c).as("column"), col("n"), col("mean"),
          col("stddev"), col("min"), col("max"))
    }
    wrap(rows.reduce(_ union _))
  }

  /** reference: functions/statistics :: freq_items — exact variant:
    * values of `column` appearing in at least `support` fraction of
    * rows. One agg + a broadcast of the scalar total. */
  def freqItems(column: String, support: Double): DDF = {
    val total = df.groupBy().agg(count(lit(1)).as("__total"))
    val counts = df.groupBy(col(column)).agg(count(lit(1)).as("freq"))
    wrap(counts.crossJoin(broadcast(total))
      .filter(col("freq") >= col("__total") * support)
      .drop("__total"))
  }

  /** reference: functions/statistics :: kolmogorov_smirnov_one_sample
    * (see graft.operators.KolmogorovSmirnov for the distributed ECDF). */
  def ksTest(column: String, distribution: String = "norm"): Double =
    graft.operators.KolmogorovSmirnov.statistic(df, column, distribution)

  // ===== pipeline-operator delegates ====================================
  // Fluent faces of the graft.operators training-data surface, so a
  // reference-style chained program reaches them without leaving DDF.
  // Semantics and scale notes live on the delegated objects.

  /** [[graft.operators.Dedup.exact]] — keep one row per key set */
  def dedupExact(cols: Seq[String], idCol: String,
                 keepCol: String = ""): DDF =
    wrap(graft.operators.Dedup.exact(df, cols, idCol, keepCol))

  /** [[graft.operators.Dedup.exactAgainst]] — this frame as the NEW
    * batch, screened against `corpus` on `cols` (ingestion-cadence
    * exact dedup; corpus never shuffles) */
  def dedupExactAgainst(corpus: DDF, cols: Seq[String]): DDF =
    wrap(graft.operators.Dedup.exactAgainst(df, corpus.df, cols))

  /** [[graft.operators.Dedup.minhashPairsAgainst]] — near-dup match
    * pairs of this frame (the NEW batch) against `corpus` */
  def dedupPairsAgainst(corpus: DDF, idCol: String, textCol: String,
                        threshold: Double = 0.8): DDF =
    wrap(graft.operators.Dedup.minhashPairsAgainst(df, corpus.df,
      idCol, textCol, threshold = threshold))

  /** [[graft.operators.Dedup.embeddingPairsAgainst]] — semantic
    * near-dup pairs of this frame (the NEW batch) against `corpus`
    * by embedding cosine */
  def dedupEmbeddingPairsAgainst(corpus: DDF, idCol: String,
                                 vecCol: String, dim: Int,
                                 threshold: Double = 0.95): DDF =
    wrap(graft.operators.Dedup.embeddingPairsAgainst(df, corpus.df,
      idCol, vecCol, dim, threshold = threshold))

  /** [[graft.streaming.Admission.admitBatch]] — run one full
    * admission cycle with this frame as the arriving batch: id screen
    * → near-dup screen against the persisted index at `indexPath` →
    * within-batch dedup → append survivors to the corpus at
    * `corpusPath` + fold them into the index. Returns the cycle's
    * [[graft.streaming.Admission.AdmitStats]] (an action, not a lazy
    * frame — the cycle WRITES). */
  def admitInto(corpusPath: String, indexPath: String, idCol: String,
                textCol: String, threshold: Double = 0.8,
                numHashes: Int = 64, bands: Int = 16)
  : graft.streaming.Admission.AdmitStats =
    graft.streaming.Admission.admitBatch(df, corpusPath, indexPath,
      idCol, textCol, numHashes = numHashes, bands = bands,
      threshold = threshold)

  /** [[graft.streaming.Admission.admitBatchSubstring]] — the
    * substring-coverage admission cycle against a persisted gram
    * index, same contract (one commit, compaction under the
    * listing-threshold policy) as [[admitInto]]. */
  def admitIntoSubstring(corpusPath: String, indexPath: String,
                         idCol: String, textCol: String, k: Int,
                         maxDupCoverage: Double = 0.5)
  : graft.streaming.Admission.AdmitStats =
    graft.streaming.Admission.admitBatchSubstring(df, corpusPath,
      indexPath, idCol, textCol, k, maxDupCoverage = maxDupCoverage)

  /** [[graft.operators.Dedup.decontaminate]] — drop docs overlapping
    * an eval suite */
  def decontaminate(evalSet: DDF, idCol: String, textCol: String,
                    shingleLen: Int = 3, minOverlap: Int = 1): DDF =
    wrap(graft.operators.Dedup.decontaminate(df, evalSet.df, idCol,
      textCol, shingleLen = shingleLen, minOverlap = minOverlap))

  /** [[graft.operators.Budget.capPerGroup]] — ≤ n rows per group */
  def capPerGroup(groupCols: Seq[String], idCol: String,
                  maxPerGroup: Int): DDF =
    wrap(graft.operators.Budget.capPerGroup(df, groupCols, idCol,
      maxPerGroup))

  /** [[graft.operators.Budget.tokenBudgetSelect]] — per-stratum
    * quality-ranked token budgets */
  def tokenBudget(strataCol: String, idCol: String, scoreCol: String,
                  tokenCol: String, budget: Long): DDF =
    wrap(graft.operators.Budget.tokenBudgetSelect(df, strataCol, idCol,
      scoreCol, tokenCol, budget))

  /** [[graft.operators.Budget.packSequences]] — token-offset bins */
  def packSequences(strataCol: String, idCol: String, tokenCol: String,
                    maxTokens: Long): DDF =
    wrap(graft.operators.Budget.packSequences(df, strataCol, idCol,
      tokenCol, maxTokens))

  /** [[graft.operators.Vocabulary.topKeywords]] — per-doc TF-IDF */
  def topKeywords(idCol: String, textCol: String, k: Int = 5): DDF =
    wrap(graft.operators.Vocabulary.topKeywords(df, idCol, textCol, k))

  /** [[graft.operators.Bpe.train]] — learn a BPE merge table from
    * `textCol` over this frame. `marker = true` trains in the
    * SentencePiece ▁-marker convention (whitespace piece-internal,
    * no end-of-word sentinel — the T5/Llama vocab shape); the mode
    * is stamped on the table and validated at encode time. */
  def bpeTrain(textCol: String, numMerges: Int, minFreq: Long = 2L,
               marker: Boolean = false, byteLevel: Boolean = false): DDF =
    wrap(graft.operators.Bpe.train(df, textCol, numMerges,
      minFreq = minFreq, marker = marker, byteLevel = byteLevel))

  /** [[graft.operators.Bpe.encode]] — subword-tokenize `textCol` with
    * a trained merge table (`marker`/`byteLevel` must match the
    * training mode — refused otherwise) */
  def bpeEncode(textCol: String, merges: DDF,
                outCol: String = "bpe_tokens",
                marker: Boolean = false, byteLevel: Boolean = false): DDF =
    wrap(graft.operators.Bpe.encode(df, textCol, merges.df, outCol,
      marker, byteLevel))

  /** [[graft.operators.Bpe.tokenCount]] — learned-unit token count
    * per row (the budgeting signal) */
  def bpeTokenCount(textCol: String, merges: DDF,
                    outCol: String = "bpe_count",
                    marker: Boolean = false,
                    byteLevel: Boolean = false): DDF =
    wrap(graft.operators.Bpe.tokenCount(df, textCol, merges.df, outCol,
      marker, byteLevel))

  /** [[graft.operators.Phrases.tagPhrases]] — distinct blocklist
    * phrases contained in each row (Aho–Corasick broadcast) */
  def tagPhrases(textCol: String, phrases: DDF,
                 outCol: String = "matched_phrases"): DDF =
    wrap(graft.operators.Phrases.tagPhrases(df, textCol, phrases.df,
      out = outCol))

  /** [[graft.operators.Phrases.filterPhrases]] — drop (or keep) rows
    * containing any blocklist phrase, the C4 filter */
  def filterPhrases(textCol: String, phrases: DDF,
                    keep: Boolean = false): DDF =
    wrap(graft.operators.Phrases.filterPhrases(df, textCol, phrases.df,
      keep = keep))

  /** [[graft.functions.TextFunctions.gopherFlags]] — the Gopher
    * A1.1 heuristic rules as a boolean struct column + their
    * conjunction (paper-default thresholds). */
  def gopherFlags(textCol: String, outCol: String = "gopher"): DDF =
    wrap(df.withColumn(outCol,
      graft.functions.TextFunctions.gopherFlags(col(textCol))))

  /** [[graft.operators.Repetition.gopherRepetitionFlags]] — the full
    * 12-rule Gopher repetition suite (Rae 2021 A1.2) joined onto
    * this frame by `idCol`: 13 fraction columns + `rep_pass` at the
    * published thresholds. Compose with [[gopherFlags]]' `pass` for
    * the complete Gopher filter. */
  def gopherRepetition(idCol: String, textCol: String): DDF =
    wrap(df.join(graft.operators.Repetition
      .gopherRepetitionFlags(df, idCol, textCol), Seq(idCol)))

  /** [[graft.functions.TextFunctions.c4CleanLines]] +
    * [[graft.functions.TextFunctions.c4PageFlags]] — the C4 §2.2
    * line rules applied in place (textCol rewritten) with the page
    * flags struct appended as `outCol`. */
  def c4Clean(textCol: String, minWordsPerLine: Int = 5,
              minSentences: Int = 3, outCol: String = "c4"): DDF = {
    val cleaned = graft.functions.TextFunctions
      .c4CleanLines(col(textCol), minWordsPerLine)
    wrap(df
      .withColumn(outCol, graft.functions.TextFunctions
        .c4PageFlags(col(textCol), cleaned, minSentences))
      .withColumn(textCol, cleaned))
  }

  /** [[graft.operators.Repetition.dropCommonLines]] — corpus-global
    * boilerplate line removal (lines in > maxDocs distinct docs). */
  def dropCommonLines(idCol: String, textCol: String,
                      maxDocs: Long): DDF =
    wrap(graft.operators.Repetition
      .dropCommonLines(df, idCol, textCol, maxDocs))

  /** [[graft.operators.Extract.mainContent]] — raw-HTML main-content
    * extraction (jusText-style block-density classification, r16):
    * `htmlCol` extracted into `outCol` ('text' by default, the
    * downstream-cleaning convention — compose with [[c4Clean]] /
    * [[dropCommonLines]] / [[gopherRepetition]]). */
  def extractMain(htmlCol: String, outCol: String = "text"): DDF =
    wrap(graft.operators.Extract.extract(df, htmlCol, outCol))

  /** [[graft.operators.SubstringDedup.duplicateSpans]] — maximal
    * duplicated ≥k-token spans (Lee et al. ExactSubstr) */
  def substringSpans(idCol: String, textCol: String, k: Int,
                     keepFirst: Boolean = false): DDF =
    wrap(graft.operators.SubstringDedup.duplicateSpans(df, idCol,
      textCol, k, keepFirst))

  /** [[graft.operators.SubstringDedup.removeDuplicateSpans]] — cut
    * all-but-one copy of every duplicated ≥k-token run */
  def substringDedup(idCol: String, textCol: String, k: Int,
                     outCol: String = "text_dedup"): DDF =
    wrap(graft.operators.SubstringDedup.removeDuplicateSpans(df, idCol,
      textCol, k, outCol = outCol))

  /** [[graft.operators.SubstringDedup.duplicateSpansAgainst]] — batch
    * spans already present in a persisted corpus gram index */
  def substringSpansAgainst(corpusIndex: DDF, idCol: String,
                            textCol: String, k: Int,
                            hashKeys: Boolean = true): DDF =
    wrap(graft.operators.SubstringDedup.duplicateSpansAgainst(df,
      corpusIndex.df, idCol, textCol, k, hashKeys))

  /** [[graft.operators.Budget.tokenBudgetSelectLedgered]] — budgeted
    * selection under a persisted cross-cycle token ledger */
  def tokenBudgetSelectLedgered(ledgerPath: String, strataCol: String,
                                idCol: String, scoreCol: String,
                                tokenCol: String, budget: Long): DDF =
    wrap(graft.operators.Budget.tokenBudgetSelectLedgered(df, ledgerPath,
      strataCol, idCol, scoreCol, tokenCol, budget))

  /** [[graft.operators.Budget.sampleWeightedPerGroup]] — deterministic
    * Efraimidis–Spirakis weighted sampling, n winners per stratum */
  def sampleWeightedPerGroup(groupCols: Seq[String], idCol: String,
                             weightCol: String, n: Int,
                             seed: Long = 42L): DDF =
    wrap(graft.operators.Budget.sampleWeightedPerGroup(df, groupCols,
      idCol, weightCol, n, seed))

  /** [[graft.operators.Frequent.heavyHitters]] — exact heavy hitters
    * via the Misra–Gries two-pass (open-domain scale path) */
  def heavyHitters(colName: String, minShare: Double): DDF =
    wrap(graft.operators.Frequent.heavyHitters(df, colName, minShare))

  /** [[graft.functions.TextFunctions.normalizeUnicode]] — in-place
    * Unicode normalization of a string column (default NFC) */
  def normalizeUnicode(colName: String, form: String = "NFC"): DDF =
    wrap(df.withColumn(colName,
      graft.functions.TextFunctions.normalizeUnicode(
        org.apache.spark.sql.functions.col(colName), form)))

  /** [[graft.operators.Dedup.decontaminateBloom]] — Bloom-prefiltered
    * decontamination for non-broadcastable eval sets */
  def decontaminateBloom(evalSet: DDF, idCol: String, textCol: String,
                         shingleLen: Int = 3, minOverlap: Int = 1,
                         fpp: Double = 0.01): DDF =
    wrap(graft.operators.Dedup.decontaminateBloom(df, evalSet.df, idCol,
      textCol, shingleLen = shingleLen, minOverlap = minOverlap, fpp = fpp))

  /** [[graft.operators.Search.bm25]] — top-k BM25 for one query */
  def searchBm25(idCol: String, textCol: String, query: String,
                 k: Int): DDF =
    wrap(graft.operators.Search.bm25(df, idCol, textCol, query, k))

  /** [[graft.operators.Search.bm25Batch]] — per-query top-k BM25 */
  def searchBm25Batch(idCol: String, textCol: String, queries: DDF,
                      qidCol: String, qtextCol: String, k: Int): DDF =
    wrap(graft.operators.Search.bm25Batch(df, idCol, textCol,
      queries.df, qidCol, qtextCol, k))

  /** [[graft.operators.Search.hybridRrf]] — BM25 ⊕ cosine top-k
    * lists fused by reciprocal rank (this frame = the corpus with
    * text AND embedding columns) */
  def searchHybridRrf(idCol: String, textCol: String, vecCol: String,
                      queries: DDF, qidCol: String, qtextCol: String,
                      qvecCol: String, k: Int, kEach: Int = 20): DDF =
    wrap(graft.operators.Search.hybridRrf(df, idCol, textCol, vecCol,
      queries.df, qidCol, qtextCol, qvecCol, k, kEach = kEach))

  /** [[graft.operators.Dedup.containmentPairs]] — asymmetric-Jaccard
    * inclusion pairs (quote/boilerplate detection) */
  def containmentPairs(idCol: String, textCol: String,
                       threshold: Double = 0.8,
                       shingleLen: Int = 3): DDF =
    wrap(graft.operators.Dedup.containmentPairs(df, idCol, textCol,
      shingleLen = shingleLen, threshold = threshold))

  /** [[graft.operators.LabelProp.labelPropagation]] — deterministic
    * sync label propagation over this frame as an edge list */
  def labelPropagation(srcCol: String, dstCol: String, iters: Int): DDF =
    wrap(graft.operators.LabelProp.labelPropagation(df, srcCol, dstCol,
      iters))

  /** [[graft.operators.WordPiece.encode]] — BERT-family greedy
    * longest-match subword tokens from a piece-vocabulary frame */
  def wordpieceEncode(textCol: String, vocab: DDF,
                      pieceCol: String = "piece",
                      out: String = "wp_tokens"): DDF =
    wrap(graft.operators.WordPiece.encode(df, textCol, vocab.df,
      pieceCol, out))

  /** [[graft.operators.EventAnalytics.sessions]] — gaps-and-islands
    * batch sessionization (one row per session) */
  def sessionize(userCol: String, tsCol: String,
                 gapSeconds: Long): DDF =
    wrap(graft.operators.EventAnalytics.sessions(df, userCol, tsCol,
      gapSeconds))

  /** [[graft.operators.Scd.scd2]] — change log → SCD2 validity
    * intervals with half-open bounds and a current flag */
  def scd2(keyCol: String, tsCol: String, attrCols: Seq[String],
           collapse: Boolean = true): DDF =
    wrap(graft.operators.Scd.scd2(df, keyCol, tsCol, attrCols,
      collapse))

  /** [[graft.operators.Scd.snapshotAt]] — point-in-time view of an
    * interval frame built by [[scd2]] */
  def snapshotAt(at: Column): DDF =
    wrap(graft.operators.Scd.snapshotAt(df, at))

  /** [[graft.operators.GraphMetrics.clusteringCoefficients]] — exact
    * per-node triangle counts + local clustering coefficient over
    * this frame as an edge list */
  def triangleCensus(srcCol: String, dstCol: String): DDF =
    wrap(graft.operators.GraphMetrics.clusteringCoefficients(df,
      srcCol, dstCol))

  /** [[graft.operators.Blocking.sortedNeighborPairs]] — sorted-
    * neighborhood record-linkage candidate pairs */
  def sortedNeighborPairs(idCol: String, keyCol: String,
                          window: Int): DDF =
    wrap(graft.operators.Blocking.sortedNeighborPairs(df, idCol,
      keyCol, window))

  /** [[graft.operators.CountMin.sketch]] — Count-Min frequency
    * sketch of a column as a (d, bucket, cnt) frame */
  def cmsSketch(colName: String, depth: Int = 4, width: Int = 1024,
                portable: Boolean = false): DDF =
    wrap(graft.operators.CountMin.sketch(df, colName, depth, width,
      portable))

  /** [[graft.operators.CountMin.estimate]] — point-frequency upper
    * bounds for this frame's keys from a [[cmsSketch]] frame (same
    * params as the build) */
  def cmsEstimate(sketch: DDF, keyCol: String, depth: Int = 4,
                  width: Int = 1024, portable: Boolean = false): DDF =
    wrap(graft.operators.CountMin.estimate(sketch.df, df, keyCol,
      depth, width, portable))

  /** [[graft.operators.GraphMetrics.kCore]] — dense-backbone
    * extraction over this frame as an edge list */
  def kCore(srcCol: String, dstCol: String, k: Int): DDF =
    wrap(graft.operators.GraphMetrics.kCore(df, srcCol, dstCol, k))

  /** [[graft.operators.Budget.remixToTarget]] — deterministic
    * selection toward a target stratum mix (the data-recipe step) */
  def remixToTarget(strataCol: String, idCol: String, tokenCol: String,
                    targets: Map[String, Double]): DDF =
    wrap(graft.operators.Budget.remixToTarget(df, strataCol, idCol,
      tokenCol, targets))

  /** [[graft.operators.Dedup.noveltyScore]] — per-doc share of
    * n-grams unseen in a reference corpus */
  def noveltyScore(idCol: String, textCol: String, reference: DDF,
                   refTextCol: String = "text",
                   shingleLen: Int = 3): DDF =
    wrap(graft.operators.Dedup.noveltyScore(df, idCol, textCol,
      reference.df, refTextCol, shingleLen))

  /** [[graft.operators.SemDedup.semDedup]] — SemDeDup (Abbas et al.
    * 2023): clustered-cosine semantic dedup over an embedding
    * column; returns the rows that survive. `centers` are offline-fit
    * cluster centers (the PQ/IVF codebook discipline). */
  def semDedup(idCol: String, vecCol: String, centers: Seq[Seq[Double]],
               minCosine: Double, maxClusterSize: Int = 10000,
               keep: String = "min_id"): DDF =
    wrap(graft.operators.SemDedup.semDedup(df, idCol, vecCol, centers,
      minCosine, maxClusterSize, keep))

  /** [[graft.operators.Raking.rakeSelect]] — IPF raking (Deming &
    * Stephan 1940): budgeted md5-deterministic sample whose row AND
    * column marginals simultaneously match the targets. */
  def rakeSelect(idCol: String, rowCol: String, colCol: String,
                 rowTargets: Map[String, Double],
                 colTargets: Map[String, Double], totalN: Long,
                 iters: Int = 5, seed: Long = 42L): DDF =
    wrap(graft.operators.Raking.rakeSelect(df, idCol, rowCol, colCol,
      rowTargets, colTargets, totalN, iters, seed))

  /** [[graft.operators.Raking.rakeSelectN]] — k-marginal raked
    * selection (r13): marginals of EVERY stratification column hit
    * their targets simultaneously. */
  def rakeSelectN(idCol: String, cols: Seq[String],
                  targets: Seq[Map[String, Double]], totalN: Long,
                  iters: Int = 5, seed: Long = 42L): DDF =
    wrap(graft.operators.Raking.rakeSelectN(df, idCol, cols, targets,
      totalN, iters, seed))

  /** [[graft.operators.AbTest.benford]] — first-significant-digit
    * census vs Benford's law (fabricated-data screen) */
  def benford(colName: String): DDF =
    wrap(graft.operators.AbTest.benford(df, colName))

  /** [[graft.operators.Profile.histogram]] — equi-width histogram
    * with empty bins emitted */
  def histogram(colName: String, bins: Int): DDF =
    wrap(graft.operators.Profile.histogram(df, colName, bins))

  /** [[graft.operators.TimeSeries.rollingZscore]] — trailing-
    * exclusive rolling mean/std + z per key */
  def rollingZscore(keys: Seq[String], orderCols: Seq[String],
                    valCol: String, window: Int): DDF =
    wrap(graft.operators.TimeSeries.rollingZscore(df, keys, orderCols,
      valCol, window))

  /** [[graft.operators.TimeSeries.ewma]] — bounded-window adjusted
    * exponential moving average */
  def ewma(keys: Seq[String], orderCols: Seq[String], valCol: String,
           alpha: Double, window: Int): DDF =
    wrap(graft.operators.TimeSeries.ewma(df, keys, orderCols, valCol,
      alpha, window))

  /** [[graft.operators.TimeSeries.cusum]] — one-sided CUSUM
    * change-point statistic with alarm flag */
  def cusum(keys: Seq[String], orderCols: Seq[String], valCol: String,
            target: Double, slack: Double, h: Double,
            upward: Boolean = true): DDF =
    wrap(graft.operators.TimeSeries.cusum(df, keys, orderCols, valCol,
      target, slack, h, upward))

  /** [[graft.operators.Expect.check]] — data-quality constraint
    * census (one row per expectation) */
  def expect(expectations: Seq[graft.operators.Expect.Expectation]): DDF =
    wrap(graft.operators.Expect.check(df, expectations))

  /** [[graft.operators.Profile.joinCardinality]] — exact join-size
    * pre-flight against `other` WITHOUT running the join */
  def joinCardinality(other: DDF, keys: Seq[String],
                      otherKeys: Seq[String]): DDF =
    wrap(graft.operators.Profile.joinCardinality(df, other.toDF,
      keys, otherKeys))

  /** [[graft.operators.Vocabulary.zipfFit]] — corpus-health Zipf
    * exponent over this frame's text column */
  def zipfFit(idCol: String, textCol: String, minCount: Long = 1L): DDF =
    wrap(graft.operators.Vocabulary.zipfFit(df, idCol, textCol,
      minCount))

  /** [[graft.operators.Vocabulary.collocations]] — bigram PMI
    * multi-word-expression census */
  def collocations(idCol: String, textCol: String,
                   minCount: Long = 5L): DDF =
    wrap(graft.operators.Vocabulary.collocations(df, idCol, textCol,
      minCount))

  /** [[graft.operators.Profile.entropy]] — Shannon entropy of a
    * categorical column in bits */
  def entropy(colName: String): DDF =
    wrap(graft.operators.Profile.entropy(df, colName))

  /** [[graft.operators.Profile.mutualInformation]] — association /
    * leakage strength between two categorical columns */
  def mutualInformation(colA: String, colB: String): DDF =
    wrap(graft.operators.Profile.mutualInformation(df, colA, colB))

  /** [[graft.operators.Classifier.rocAuc]] — exact AUC via the
    * midrank identity */
  def rocAuc(scoreCol: String, labelCol: String): DDF =
    wrap(graft.operators.Classifier.rocAuc(df, scoreCol, labelCol))

  /** [[graft.operators.Classifier.calibration]] — reliability
    * diagram over equal-width probability bins */
  def calibration(scoreCol: String, labelCol: String,
                  bins: Int = 10): DDF =
    wrap(graft.operators.Classifier.calibration(df, scoreCol,
      labelCol, bins))

  /** [[graft.operators.EventAnalytics.attribution]] — first/last
    * touch per conversion within a trailing lookback */
  def attribution(userCol: String, tsCol: String, idCol: String,
                  typeCol: String, conversionType: String,
                  touchTypes: Seq[String], lookbackSec: Long): DDF =
    wrap(graft.operators.EventAnalytics.attribution(df, userCol,
      tsCol, idCol, typeCol, conversionType, touchTypes, lookbackSec))

  /** [[graft.operators.EventAnalytics.stationaryDistribution]] —
    * steady-state mix of the event-transition chain */
  def stationaryDistribution(userCol: String, tsCol: String,
                             typeCol: String, iters: Int = 10): DDF =
    wrap(graft.operators.EventAnalytics.stationaryDistribution(df,
      userCol, tsCol, typeCol, iters))

  /** [[graft.operators.GraphMetrics.linkPrediction]] — CN / Jaccard
    * / Adamic–Adar candidate scores (this frame = edge list) */
  def linkPrediction(srcCol: String, dstCol: String,
                     maxDegree: Int = 10000,
                     excludeExisting: Boolean = true): DDF =
    wrap(graft.operators.GraphMetrics.linkPrediction(df, srcCol,
      dstCol, maxDegree, excludeExisting))

  /** [[graft.operators.RangeJoin.pointInInterval]] — bucket-rewritten
    * inequality join (this side = points) */
  def rangeJoin(pCol: String, intervals: DDF, loCol: String,
                hiCol: String, bucketWidth: Double = 0.0): DDF =
    wrap(graft.operators.RangeJoin.pointInInterval(df, pCol,
      intervals.df, loCol, hiCol, bucketWidth))

  /** [[graft.operators.Classifier.linearTextScore]] — fastText-shaped
    * (token, weight) quality/domain scoring */
  def classifyText(idCol: String, textCol: String, weights: DDF,
                   bias: Double = 0.0, out: String = "score"): DDF =
    wrap(graft.operators.Classifier.linearTextScore(df, idCol, textCol,
      weights.df, bias, out))

  // ===== actions / metadata =============================================

  def schema: StructType = df.schema
  def columns: Seq[String] = df.columns.toSeq
  def show(n: Int = 20): Unit = df.show(n)
  def collect(): Array[org.apache.spark.sql.Row] = df.collect()
  def toDF: DataFrame = df
  def save: Save = new Save(df)
}

object DDF {
  def apply(df: DataFrame): DDF = new DDF(df)

  sealed trait FillMode
  case object FillWithValue extends FillMode
  case object FillWithMean extends FillMode
  case object FillWithMedian extends FillMode
  case object FillWithMode extends FillMode

  /** reference cast-target names (attributes_changer.py) → Spark types */
  private[ddf] def sqlType(name: String): DataType =
    name.toLowerCase match {
      case "integer" | "int"      => IntegerType
      case "bigint" | "long"      => LongType
      case "decimal" | "double" | "float" => DoubleType
      case "string"               => StringType
      case "date"                 => DateType
      case "timestamp"            => TimestampType
      case "boolean" | "bool"     => BooleanType
      case other                  => DataType.fromDDL(other)
    }

  /** pandas-`query` dialect → Catalyst SQL (SURVEY.md §2.2 filter).
    * The `&`/`|`/`~` rewrites run with string literals masked, so an
    * ampersand inside a quoted value is never rewritten. */
  private[ddf] def translateQuery(q: String): String = {
    val (masked, lits) = maskLiterals(q)
    translateExpr(restoreLiterals(masked
      .replaceAll("(?<![&|])&(?![&|])", " AND ")
      .replaceAll("(?<![&|])\\|(?![&|])", " OR ")
      .replaceAll("~\\s*\\(", " NOT ("), lits))
  }

  /** pandas-eval surface → Catalyst SQL, shared by filter-query and
    * select_expression (reference functions/etl/select.py evaluates
    * pandas `eval` strings):
    *  - `a ** b` → power(a, b), for identifier / literal /
    *    parenthesized operands. Rewrites the RIGHTMOST `**` of each
    *    chain first (a negative lookahead bars a right operand that is
    *    itself followed by `**`), so `a ** b ** c` associates
    *    right-to-left — power(a, power(b, c)) — exactly as Python/
    *    pandas `eval` does (2**3**2 = 512, not 64).
    *  - top-level `X if C else Y` → if((C), (X), (Y))
    *  - `x in [a, b]` / `x not in [a, b]` → SQL IN lists with PANDAS
    *    null semantics: `not in` keeps null rows (`x IS NULL OR x NOT
    *    IN (..)`), and an empty list folds to constant false/true
    *    instead of the `IN ()` parse error. Only the bracket-list /
    *    `@var` forms get this treatment — a raw SQL `NOT IN (..)`
    *    passes through with SQL three-valued logic.
    *  - `col.isnull()/isna()/notnull()/notna()` → isnull/isnotnull
    *  - `col.dt.year/month/day/hour/minute/second/dayofweek(=weekday,
    *    Monday=0..Sunday=6 pandas numbering via Spark weekday())/
    *    dayofyear/quarter/date` → the matching SQL datetime function
    *  - `col.str.<method>(...)` accessors → Spark string functions
    *    (see [[rewriteStrAccessors]])
    *  - `@var` references are substituted by the filter/
    *    selectExpression overloads that take a params map
    * Single-quoted string literals are masked before any rewrite
    * runs and restored after, so `**`, ` if ... else `, `.str.` or
    * `@` INSIDE a literal is never touched. Anything already valid
    * Catalyst SQL passes through unchanged. */
  /** mask '...' literals ('' escapes split into adjacent literals,
    * which mask/restore handles transparently). The placeholder is a
    * plain identifier so rewrite regexes treat it atomically. */
  private def maskLiterals(e: String): (String, IndexedSeq[String]) = {
    val lits = scala.collection.mutable.ArrayBuffer.empty[String]
    val masked = "'[^']*'".r.replaceAllIn(e, m => {
      lits += m.matched
      java.util.regex.Matcher.quoteReplacement(s"__graft_str_${lits.size - 1}__")
    })
    (masked, lits.toIndexedSeq)
  }

  private def restoreLiterals(e: String, lits: IndexedSeq[String]): String =
    "__graft_str_([0-9]+)__".r.replaceAllIn(e,
      m => java.util.regex.Matcher.quoteReplacement(lits(m.group(1).toInt)))

  /** a Scala value as a SQL literal (for `@var` substitution).
    * Collections render as BRACKET lists (`[a, b]`) — the pandas-list
    * form — so `a in @xs` / `a not in @xs` flow through the same
    * in-list rewrite as inline lists and inherit its pandas semantics
    * (null-keeping `not in`, constant-folded empty list). */
  private[ddf] def sqlLiteral(v: Any): String = v match {
    case null                  => "NULL"
    case s: String             => "'" + s.replace("'", "''") + "'"
    case b: Boolean            => if (b) "true" else "false"
    case d: java.sql.Date      => s"DATE '$d'"
    case t: java.sql.Timestamp => s"TIMESTAMP '$t'"
    case xs: Seq[_]            => xs.map(sqlLiteral).mkString("[", ", ", "]")
    case xs: Array[_]          => xs.map(sqlLiteral).mkString("[", ", ", "]")
    case xs: Set[_]            => xs.toSeq.map(sqlLiteral).sorted
                                    .mkString("[", ", ", "]")
    case other                 => other.toString
  }

  /** pandas-eval `@var` driver-variable references → inline SQL
    * literals. `@` inside a string literal stays literal text (masked
    * during substitution), matching pandas. Unknown names throw. */
  private[ddf] def substituteParams(e: String, params: Map[String, Any]): String = {
    val (masked, lits) = maskLiterals(e)
    val sub = "@([A-Za-z_][A-Za-z0-9_]*)".r.replaceAllIn(masked, m =>
      params.get(m.group(1)) match {
        case Some(v) => java.util.regex.Matcher.quoteReplacement(sqlLiteral(v))
        case None => throw new IllegalArgumentException(
          s"@${m.group(1)} referenced but not provided in params")
      })
    restoreLiterals(sub, lits)
  }

  /** pandas `.str` accessor calls → Spark SQL string functions:
    * col.str.contains/startswith/endswith(x), col.str.replace(a, b),
    * col.str.len(), col.str.lower/upper/strip/lstrip/rstrip(),
    * col.str.slice(i[, j]) (non-negative int-literal bounds →
    * substring; negative/step forms fall through), col.str.split(pat)
    * (pat is a Java regex — pandas treats a length-1 pat as literal,
    * a DOCUMENTED DIVERGENCE), col.str.extract(pat) (group 1, NULL on
    * no match; an empty capture also yields NULL — divergence),
    * col.str.pad(w[, side=..., fillchar=...]) (left/right; 'both'
    * falls through; never truncates, like pandas), col.str.zfill(w)
    * (plain left zero-pad — pandas' sign-aware hole is a divergence),
    * col.str.get(i) (non-negative i; NULL out of range).
    * Regex semantics follow pandas (≥2.0) defaults:
    *  - `.str.contains(pat)` treats pat as a REGEX (regex=True
    *    default) → `rlike`, which shares Java-regex unanchored-search
    *    semantics with pandas' `re.search`;
    *  - `.str.replace(pat, repl)` treats pat as a LITERAL
    *    (regex=False default since pandas 2.0) → `replace`;
    *  - a `regex=True/False` kwarg overrides either direction
    *    (`contains(p, regex=False)` → literal `contains`,
    *    `replace(a, b, regex=True)` → `regexp_replace`);
    *  - `case=False` on contains/startswith/endswith and on
    *    `replace(.., regex=True)` matches case-insensitively (`(?i)`
    *    for the regex paths, lower() both sides for the literal
    *    paths). Pandas REJECTS `case` on literal replace; here it is
    *    ignored there.
    * DOCUMENTED DIVERGENCE: the `replace(.., regex=True)` pattern AND
    * replacement use the Java regex dialect (`$1` group references,
    * Java escape rules), not Python `re` (`\1`). Patterns valid in
    * both dialects behave identically; backreference spelling does
    * not.
    * This runs on the literal-masked string, so splitting args on
    * commas is safe; one nesting level of parens inside args (function
    * calls like `concat(a, b)`) is tolerated by the match. Unknown
    * .str methods are left as-is (clear Catalyst parse error rather
    * than a silent wrong rewrite). */
  private def rewriteStrAccessors(e: String,
                                  lits: IndexedSeq[String]): String = {
    // resolve a masked-literal placeholder to its string content, for
    // kwargs whose VALUE steers the rewrite (side='left'); the
    // placeholder itself is re-emitted wherever the value flows into
    // the generated SQL
    val litRef = "__graft_str_([0-9]+)__".r
    def litContent(s: String): Option[String] = s match {
      case litRef(n) => Some(lits(n.toInt)
        .stripPrefix("'").stripSuffix("'").replace("''", "'"))
      case _ => None
    }
    val acc = ("([A-Za-z_][A-Za-z0-9_]*)\\.str\\.([a-z]+)" +
      "\\(((?:[^()]|\\([^()]*\\))*)\\)").r
    acc.replaceAllIn(e, m => {
      val (c, f) = (m.group(1), m.group(2))
      // split args on TOP-LEVEL commas only (nested calls keep theirs)
      val rawArgs = {
        val buf = scala.collection.mutable.ArrayBuffer.empty[String]
        var depth = 0; var start = 0
        val s = m.group(3)
        for (i <- 0 until s.length) s.charAt(i) match {
          case '(' => depth += 1
          case ')' => depth -= 1
          case ',' if depth == 0 => buf += s.substring(start, i); start = i + 1
          case _ =>
        }
        buf += s.substring(start)
        buf.toSeq.map(_.trim).filter(_.nonEmpty)
      }
      // kwargs: boolean (regex=True, case=False) and string-valued
      // (side='left' — the value arrives as a masked placeholder and
      // resolves through litContent). `[^=].*` bars a comparison arg
      // like `x == 1` from parsing as a kwarg.
      val kw = "([a-z]+)\\s*=\\s*([^=].*)".r
      val kwargsRaw = rawArgs.collect { case kw(k, v) => k -> v.trim }.toMap
      val args = rawArgs.filter { case kw(_, _) => false; case _ => true }
      val a = args.mkString(", ")
      val regex = kwargsRaw.get("regex").map(_ == "True")
      val ci = kwargsRaw.get("case").contains("False")
      def lit1 = args.headOption.getOrElse("")
      val out = f match {
        case "contains" if regex.getOrElse(true) =>
          if (ci) s"rlike($c, concat('(?i)', $a))" else s"rlike($c, $a)"
        case "contains" =>
          if (ci) s"contains(lower($c), lower($lit1))" else s"contains($c, $a)"
        case "startswith" =>
          if (ci) s"startswith(lower($c), lower($lit1))" else s"startswith($c, $a)"
        case "endswith" =>
          if (ci) s"endswith(lower($c), lower($lit1))" else s"endswith($c, $a)"
        case "replace" if regex.getOrElse(false) =>
          if (ci && args.length >= 2)
            s"regexp_replace($c, concat('(?i)', ${args(0)}), ${args(1)})"
          else s"regexp_replace($c, $a)"
        case "replace"    => s"replace($c, $a)"
        // slice(i[, j]) for NON-NEGATIVE integer-literal bounds →
        // 1-based substring; negative indices / step fall through to
        // the parse-error path (documented)
        case "slice" if args.nonEmpty && args.forall(_.matches("[0-9]+")) =>
          val i = args(0).toInt
          if (args.length == 1) s"substring($c, ${i + 1})"
          else s"substring($c, ${i + 1}, ${math.max(0, args(1).toInt - i)})"
        case "split" if args.length == 1 => s"split($c, $lit1)"
        case "extract" if args.length == 1 =>
          // group 1 of the first match; no-match → NULL (pandas NaN).
          // nullif conflates a legitimately empty capture with no
          // match — documented divergence
          s"nullif(regexp_extract($c, $lit1, 1), '')"
        // pad/zfill never truncate (Spark lpad/rpad DO when the string
        // already exceeds width — guard with a length test)
        case "pad" if args.length == 1 && args.head.matches("[0-9]+") =>
          val w = args.head
          val fill = kwargsRaw.getOrElse("fillchar", "' '")
          kwargsRaw.get("side").flatMap(litContent).getOrElse("left") match {
            case "left"  => s"if(length($c) >= $w, $c, lpad($c, $w, $fill))"
            case "right" => s"if(length($c) >= $w, $c, rpad($c, $w, $fill))"
            case _       => m.matched // side='both' falls through
          }
        case "zfill" if args.length == 1 && args.head.matches("[0-9]+") =>
          val w = args.head
          s"if(length($c) >= $w, $c, lpad($c, $w, '0'))"
        // element at position i: out-of-range → NULL (pandas NaN);
        // nullif conflates with an empty-string char, which substring
        // cannot produce in-range, so the mapping is exact
        case "get" if args.length == 1 && args.head.matches("[0-9]+") =>
          s"nullif(substring($c, ${args.head.toInt + 1}, 1), '')"
        case "len"        => s"length($c)"
        case "lower"      => s"lower($c)"
        case "upper"      => s"upper($c)"
        case "strip"      => s"trim($c)"
        case "lstrip"     => s"ltrim($c)"
        case "rstrip"     => s"rtrim($c)"
        case _            => m.matched
      }
      java.util.regex.Matcher.quoteReplacement(out)
    })
  }

  private[ddf] def translateExpr(e: String): String = {
    val (masked0, lits) = maskLiterals(e)
    // pandas null tests and `.dt` datetime accessors → SQL functions
    val nullRewritten = "([A-Za-z_][A-Za-z0-9_]*)\\.(isnull|isna|notnull|notna)\\(\\s*\\)".r
      .replaceAllIn(masked0, m => java.util.regex.Matcher.quoteReplacement(
        if (m.group(2).startsWith("not")) s"isnotnull(${m.group(1)})"
        else s"isnull(${m.group(1)})"))
    // dayofweek/weekday map to Spark's weekday() (Monday=0..Sunday=6,
    // the pandas numbering) — NOT SQL dayofweek() (Sunday=1..Saturday=7)
    val dtFns = Map("year" -> "year", "month" -> "month", "day" -> "day",
      "hour" -> "hour", "minute" -> "minute", "second" -> "second",
      "dayofweek" -> "weekday", "weekday" -> "weekday",
      "dayofyear" -> "dayofyear",
      "quarter" -> "quarter", "date" -> "to_date")
    val dtRewritten = "([A-Za-z_][A-Za-z0-9_]*)\\.dt\\.([a-z_]+)".r
      .replaceAllIn(nullRewritten, m => java.util.regex.Matcher.quoteReplacement(
        dtFns.get(m.group(2)).map(f => s"$f(${m.group(1)})")
          .getOrElse(m.matched)))
    val strRewritten = rewriteStrAccessors(dtRewritten, lits)
    // pandas `x in [a, b]` / `x not in [a, b]` → SQL IN lists (the
    // bracket list only, and only right after the in keyword — plain
    // Catalyst array indexing elsewhere is untouched). Runs AFTER the
    // accessor rewrites so a `.dt`/`.str` left operand has already
    // become a plain call the operand pattern can capture. Pandas
    // semantics, not SQL three-valued logic:
    //  - `x not in [..]` KEEPS null rows (pandas: NaN not-in-list is
    //    True) → rewritten `(x IS NULL OR x NOT IN (..))`;
    //  - an empty list (`x in []`, or `x in @xs` with an empty
    //    collection) folds to constant false / true, never the
    //    `IN ()` Catalyst parse error.
    // The left operand is captured (identifier, call, indexed access,
    // or one parenthesized group) so the null-guard and empty-list
    // folds can reference it; a raw SQL `NOT IN (..)` paren form
    // passes through untouched with its SQL semantics, per the
    // pass-through promise above.
    val inOperand = "(" +
      "\\((?:[^()]|\\([^()]*\\))*\\)" +
      "|[A-Za-z_][A-Za-z0-9_]*(?:\\((?:[^()]|\\([^()]*\\))*\\)|\\[[^\\]]*\\])?" +
      ")"
    val inRewritten = ("(?i)" + inOperand + "\\s+(not\\s+in|in)\\s*\\[([^\\]]*)\\]").r
      .replaceAllIn(strRewritten, m => {
        val x = m.group(1)
        val neg = m.group(2).toLowerCase.startsWith("not")
        val items = m.group(3).trim
        java.util.regex.Matcher.quoteReplacement(
          if (items.isEmpty) { if (neg) "true" else "false" }
          else if (neg) s"($x IS NULL OR $x NOT IN ($items))"
          else s"$x IN ($items)")
      })
    val masked = inRewritten
    val operand = "(?:\\((?:[^()]|\\([^()]*\\))*\\)|[A-Za-z_][A-Za-z0-9_]*(?:\\([^()]*\\))?|[0-9]+(?:\\.[0-9]+)?)"
    // match a whole ** chain and fold it right-associatively in one
    // replacement (a ** b ** c → power(a, power(b, c))); the fixpoint
    // loop then reaches chains nested inside parenthesized operands.
    val pow = (operand + "(?:\\s*\\*\\*\\s*" + operand + ")+").r
    var cur = masked
    var prev = ""
    while (cur != prev) {
      prev = cur
      cur = pow.replaceAllIn(cur,
        m => java.util.regex.Matcher.quoteReplacement(foldPowChain(m.matched)))
    }
    val ternary = "^(.*?)\\s+if\\s+(.+?)\\s+else\\s+(.+)$".r
    val out = cur match {
      case ternary(x, c, y) => s"if(($c), ($x), ($y))"
      case other            => other
    }
    restoreLiterals(out, lits)
  }

  /** split a matched `a ** b ** c` chain on its TOP-LEVEL `**`s (depth
    * tracking skips any `**` inside a parenthesized operand) and fold
    * right-associatively: power(a, power(b, c)) — Python semantics. */
  private def foldPowChain(s: String): String = {
    val parts = scala.collection.mutable.ArrayBuffer.empty[String]
    var depth = 0; var start = 0; var i = 0
    while (i < s.length) {
      s.charAt(i) match {
        case '(' => depth += 1; i += 1
        case ')' => depth -= 1; i += 1
        case '*' if depth == 0 && i + 1 < s.length && s.charAt(i + 1) == '*' =>
          parts += s.substring(start, i).trim; i += 2; start = i
        case _ => i += 1
      }
    }
    parts += s.substring(start).trim
    parts.reduceRight((a, b) => s"power($a, $b)")
  }

  private[ddf] def translateJoinMode(m: String): String =
    m.toLowerCase match {
      case "inner"            => "inner"
      case "left"             => "left_outer"
      case "right"            => "right_outer"
      case "full" | "outer"   => "full_outer"
      case other              => other
    }
}
