"""Anomaly-detection operators A1-A7 (SURVEY.md §2.C), Spark-first.

The reference pulls each metric series to the driver and runs numpy
(backend/core/anomalies/algorithms.py); we express the same math as window
functions over a long metrics DataFrame partitioned by series key — one
shuffle fans out every configured series at once (scheduler.py's ThreadPool
becomes a single Spark job, SURVEY §3.4).

Exact semantic ports (SURVEY §7 hard parts):
- np.std is POPULATION stddev -> stddev_pop (not stddev_samp).
- Rolling windows are values[i-w:i] — trailing, EXCLUDING the current point,
  emitted only for i >= w -> ROWS BETWEEN w PRECEDING AND 1 PRECEDING +
  row_number guard.
- np.percentile uses linear interpolation -> exact ``percentile`` /
  sorted-array interpolation for rolling IQR (never percentile_approx).
- Guards: zscore needs >=2 points, IQR >=4, moving-average >= window+1;
  std == 0 -> score 0 (not anomaly); iqr == 0 -> score = +inf (anomaly).
- Moving-average: std is computed over the MOVING AVERAGES, not raw values
  (algorithms.py:165-173), with a forward-looking std window and
  last-window fill for the tail.
- Non-finite values: NaN and ±Inf are treated exactly like NULL. Spark
  orders NaN above every double, so an unguarded NaN turns a series' mean
  and std into NaN and every ``score > threshold`` into true; numpy's
  comparisons are false instead. Each detector reads ``_finite(value)``,
  so such points are left out of every statistic (and of the
  min_data_points count) and are never flagged, while the output keeps
  the raw value.

One implementation, two callers: each detector is ONE SQL-text builder
(``zscore_sql`` ... ``cusum_sql``) over a relation ``src`` — a view name or
a parenthesized query — returning the input columns plus ``score``,
``is_anomaly`` and ``threshold``. The DataFrame operators render that text
over their input (``_render``); the graded checks call the same builders
with their memoized series view as ``src`` and nest them into one
statement per slot. ``detection_sql`` adds the eligibility filter and
``format_sql`` the anomaly-only filter plus A5 severity, so the eligibility
rule and the severity table (``_SEVERITY_CUTS``) are also written once.
Text over Column objects also keeps plan build cheap: every
``F.col``/``F.when``/``withColumn`` is its own py4j round trip, while one
``spark.sql`` call parses the whole layer JVM-side and analyzes the final
plan once.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from sparvi_spark.functions import rel, render_sql

ZSCORE_BASE_THRESHOLD = 3.0
IQR_BASE_THRESHOLD = 1.5
MA_BASE_THRESHOLD = 2.0
CUSUM_BASE_THRESHOLD = 5.0
MAD_BASE_THRESHOLD = 3.5  # Iglewicz-Hoban modified-z-score convention
MAD_K = 1.4826022185056018  # 1 / Phi^-1(3/4): MAD -> sigma for normals

_INF = "cast('Infinity' as double)"
# stands in for the input relation while an operator builds its text
_SRC = rel("src")


def _d(x: float) -> str:
    """Double literal — bare ``3.0`` parses as DECIMAL in Spark SQL."""
    return f"cast({float(x)!r} as double)"


def _w(keys: list[str], order_col: str | None = None, frame: str = "") -> str:
    """Window spec over the series key, optionally ordered and framed."""
    spec = "PARTITION BY " + ", ".join(f"`{k}`" for k in keys)
    if order_col is not None:
        spec += f" ORDER BY `{order_col}`"
    return f"({spec}{' ' + frame if frame else ''})"


def _stage(src: str, cols: list[str], where: str = "",
           drop: list[str] | None = None) -> str:
    """``src.selectExpr("*", *cols).where(where).drop(*drop)`` as SQL text."""
    sql = f"SELECT *, {', '.join(cols)} FROM {src}"
    if not where and not drop:
        return sql
    star = f"* EXCEPT ({', '.join(drop)})" if drop else "*"
    return f"SELECT {star} FROM ({sql})" + (f" WHERE {where}" if where else "")


def _scored(src: str, score: str, threshold: float, drop: list[str],
            flag: str | None = None, extra: list[str] = ()) -> str:
    """Final stage: score, flag and threshold columns, helpers dropped."""
    return _stage(src, [
        f"{score} AS score",
        f"{flag or f'{score} > {_d(threshold)}'} AS is_anomaly",
        f"{_d(threshold)} AS threshold", *extra], drop=drop)


def _finite(value_col: str) -> str:
    """The value, NULL where it is NaN or ±Inf (NaN sorts above every
    double in Spark, so ``abs(v) < Infinity`` is false for both)."""
    v = f"`{value_col}`"
    return f"case when abs(cast({v} as double)) < {_INF} then {v} end"


def _with_v(src: str, value_col: str) -> str:
    """``src`` plus ``__v = _finite(value_col)``, which every detector's
    statistics and scores read instead of the raw value."""
    return f"({_stage(src, [f'{_finite(value_col)} AS __v'])})"


def _render(df: DataFrame, text: str) -> DataFrame:
    """Run builder text over ``df`` (see ``functions.render_sql``)."""
    return render_sql(df.sparkSession, text, src=df)


def zscore_sql(src: str, keys: list[str], order_col: str = "ts",
               value_col: str = "value", sensitivity: float = 1.0,
               window: int | None = None) -> str:
    """A1 global / A2 rolling z-score (algorithms.py:10-61)."""
    threshold = ZSCORE_BASE_THRESHOLD / sensitivity
    src, v, wg = _with_v(src, value_col), "__v", _w(keys)
    if window is None:
        # window exprs inlined into the score text — identical window
        # specs dedup into ONE Window operator and codegen CSE evaluates
        # each once per row
        mean, std = f"avg({v}) OVER {wg}", f"stddev_pop({v}) OVER {wg}"
        helpers, keep = [f"count({v}) OVER {wg} AS __cnt"], "__cnt >= 2"
        drop = ["__cnt", "__v"]
    else:
        # Reference fallback (algorithms.py:30): window >= len(values) ->
        # GLOBAL stats over the whole series (all points scored); rolling
        # frames only when the series is strictly longer than the window.
        # Both stat sets share the same partition keys -> one shuffle; the
        # rolling stats are computed over the trailing frame BEFORE the
        # row_number filter (filtering first would shrink early windows).
        wf = _w(keys, order_col, f"ROWS BETWEEN {window} PRECEDING AND 1 PRECEDING")
        short = f"count({v}) OVER {wg} <= {window}"
        mean = f"case when {short} then avg({v}) OVER {wg} else avg({v}) OVER {wf} end"
        std = (f"case when {short} then stddev_pop({v}) OVER {wg} "
               f"else stddev_pop({v}) OVER {wf} end")
        helpers = [f"row_number() OVER {_w(keys, order_col)} AS __rn",
                   f"count({v}) OVER {wg} AS __npts"]
        keep = (f"(__npts <= {window} and __npts >= 2) "
                f"or (__npts > {window} and __rn > {window})")
        drop = ["__rn", "__npts", "__v"]
    score = (f"case when ({std}) = {_d(0)} then {_d(0)} "
             f"else abs(({v} - ({mean})) / ({std})) end")
    return _stage(src, [f"{score} AS score",
                        f"{score} > {_d(threshold)} AS is_anomaly",
                        f"{_d(threshold)} AS threshold", *helpers],
                  keep, drop)


def _interp_sorted(arr: str, p: float) -> str:
    """np.percentile linear interpolation over a sorted array (SQL text),
    positions from the array's RUNTIME size: collect_list drops NULL
    values, so a trailing window with nulls yields a shorter array than
    the window width — indexing by the static width would read past the
    end (wrong quartiles, or INVALID_ARRAY_INDEX under ANSI). For
    null-free windows the arithmetic is value-identical to the static form
    ((n-1)*p is the same double either way, and frac=0 makes
    lo + 0*(hi-lo) == lo). An all-null window returns NULL."""
    n = f"size({arr})"
    q = f"(cast({n} - 1 as double) * {_d(p)})"
    lo = f"floor({q})"
    lo_val = f"element_at({arr}, cast({lo} + 1 as int))"
    hi_val = f"element_at({arr}, cast(least({lo} + 2, cast({n} as bigint)) as int))"
    return (f"case when {n} > 0 then "
            f"{lo_val} + ({q} - cast({lo} as double)) * ({hi_val} - {lo_val}) end")


def iqr_sql(src: str, keys: list[str], order_col: str = "ts",
            value_col: str = "value", sensitivity: float = 1.0,
            window: int | None = None) -> str:
    """A3 IQR (algorithms.py:64-132): global via exact percentile, rolling
    via sorted-array interpolation (JVM-side, no UDF)."""
    threshold = IQR_BASE_THRESHOLD / sensitivity
    src, v, wg = _with_v(src, value_col), "__v", _w(keys)
    if window is None:
        # whole-partition window, not agg + broadcast join back: one job
        # and half the stages. A metric series partition is bounded (one
        # point per collection interval), so the window buffer is small
        # at any data scale.
        quart = _stage(src, [f"percentile({v}, {_d(0.25)}) OVER {wg} AS __q1",
                             f"percentile({v}, {_d(0.75)}) OVER {wg} AS __q3",
                             f"count({v}) OVER {wg} AS __cnt"],
                       "__cnt >= 4", ["__cnt"])
    else:
        # Reference fallback (algorithms.py:84): window >= len(values) ->
        # GLOBAL percentiles over the whole series (>= 4 points); rolling
        # frames only when the series is strictly longer than the window.
        wf = _w(keys, order_col, f"ROWS BETWEEN {window} PRECEDING AND 1 PRECEDING")
        arr = f"sort_array(collect_list({v}) OVER {wf})"
        short = f"count({v}) OVER {wg} <= {window}"
        quart = _stage(src, [
            f"row_number() OVER {_w(keys, order_col)} AS __rn",
            f"count({v}) OVER {wg} AS __npts",
            f"case when {short} then percentile({v}, 0.25) OVER {wg} "
            f"else {_interp_sorted(arr, 0.25)} end AS __q1",
            f"case when {short} then percentile({v}, 0.75) OVER {wg} "
            f"else {_interp_sorted(arr, 0.75)} end AS __q3",
        ], f"(__npts <= {window} and __npts >= 4) "
           f"or (__npts > {window} and __rn > {window})", ["__rn", "__npts"])
    iqr = "(__q3 - __q1)"
    lower = f"(__q1 - {iqr} * {_d(threshold)})"
    upper = f"(__q3 + {iqr} * {_d(threshold)})"
    past_low = (f"case when {iqr} > {_d(0)} "
                f"then abs(({lower} - {v}) / {iqr}) else {_INF} end")
    past_high = (f"case when {iqr} > {_d(0)} "
                 f"then abs(({v} - {upper}) / {iqr}) else {_INF} end")
    score = (f"case when {v} is null then null "
             f"when {v} < {lower} then {past_low} "
             f"when {v} > {upper} then {past_high} else {_d(0)} end")
    return _scored(f"({quart})", score, threshold, ["__q1", "__q3", "__v"],
                   flag=f"({v} < {lower}) or ({v} > {upper})")


def moving_average_sql(src: str, keys: list[str], order_col: str = "ts",
                       value_col: str = "value", sensitivity: float = 1.0,
                       window: int = 7, std_window: int | None = None) -> str:
    """A4 moving average (algorithms.py:135-198).

    MA over trailing ``window`` raw values (excluding current); std over the
    MAs themselves: global when fewer MAs than ``std_window``, else a
    forward-looking rolling std (stds[k] covers MAs[k..k+sw-1]) whose last
    full value fills the tail.
    """
    sw = std_window or window
    threshold = MA_BASE_THRESHOLD / sensitivity
    src, v = _with_v(src, value_col), "__v"
    wg, wo = _w(keys), _w(keys, order_col)
    wf = _w(keys, order_col, f"ROWS BETWEEN {window} PRECEDING AND 1 PRECEDING")
    wfwd = _w(keys, order_col, f"ROWS BETWEEN CURRENT ROW AND {sw - 1} FOLLOWING")
    mas = _stage(src, [f"row_number() OVER {wo} AS __rn",
                       f"avg({v}) OVER {wf} AS __ma"],
                 f"__rn > {window}", ["__rn"])
    stds = _stage(f"({mas})", [f"count(1) OVER {wg} AS __n_ma",
                               f"row_number() OVER {wo} AS __mi",
                               f"stddev_pop(__ma) OVER {wfwd} AS __fwd_std",
                               f"stddev_pop(__ma) OVER {wg} AS __global_std"])
    # last full forward window std (covers MAs[n-sw+1..n], 1-based)
    tail_std = (f"max(case when __mi = __n_ma - {sw} + 1 "
                f"then __fwd_std end) OVER {wg}")
    std = _stage(f"({stds})", [
        f"case when __n_ma < {sw} then __global_std "
        f"when __mi <= __n_ma - {sw} + 1 then __fwd_std "
        f"else {tail_std} end AS __std"],
        drop=["__n_ma", "__mi", "__fwd_std", "__global_std"])
    score = (f"case when __std = {_d(0)} then {_d(0)} "
             f"else abs(({v} - __ma) / __std) end")
    return _scored(f"({std})", score, threshold, ["__ma", "__std", "__v"],
                   flag=f"case when __std = {_d(0)} then false "
                        f"else {score} > {_d(threshold)} end",
                   extra=["__ma AS moving_avg"])


def mad_sql(src: str, keys: list[str], order_col: str = "ts",
            value_col: str = "value", sensitivity: float = 1.0) -> str:
    """Robust median/MAD detector (Iglewicz-Hoban modified z-score,
    public convention) — an extension beyond the reference's mean/std
    detectors: a single extreme spike inflates mean AND std enough to
    mask a second spike from the z-score, while median and MAD barely
    move. score = |v - med| / (MAD_K * mad), threshold 3.5/sensitivity.

    Whole-partition windows like the global z-score/IQR (a metric series
    partition is bounded at any scale); the second window reuses the
    first's exchange+sort — one shuffle total. Degenerate mad = 0 (over
    half the points identical) scores 0, matching the std = 0 rule; the
    guard needs >= 4 points like IQR. Transcendental-free: every op is
    IEEE basic arithmetic, so scores replay bit-for-bit in the oracle.
    """
    threshold = MAD_BASE_THRESHOLD / sensitivity
    src, v, wg = _with_v(src, value_col), "__v", _w(keys)
    med = _stage(src, [f"percentile({v}, {_d(0.5)}) OVER {wg} AS __med",
                       f"count({v}) OVER {wg} AS __cnt"],
                 "__cnt >= 4", ["__cnt"])
    mad = _stage(f"({med})",
                 [f"percentile(abs({v} - __med), {_d(0.5)}) OVER {wg} AS __mad"])
    score = (f"case when __mad = {_d(0)} then {_d(0)} "
             f"else abs({v} - __med) / ({_d(MAD_K)} * __mad) end")
    return _scored(f"({mad})", score, threshold, ["__med", "__mad", "__v"])


def cusum_sql(src: str, keys: list[str], order_col: str = "ts",
              value_col: str = "value", sensitivity: float = 1.0,
              slack: float = 0.5) -> str:
    """CUSUM drift detector (Page 1954, public) — an extension beyond the
    reference's point detectors: accumulates small sustained shifts of the
    mean that no single point's z-score would flag.

    Textbook recursion: ``s+_i = max(0, s+_{i-1} + (x_i − mean − k))`` and
    mirrored ``s-``, with slack ``k = slack·std``. The recursion has a
    window-expressible closed form — with ``y_i = x_i − mean − k`` and
    prefix sum ``S_i``: ``s+_i = S_i − min(0, min_{j≤i} S_j)`` — so the
    whole detector is ONE shuffle on the series key plus ordered running
    sums/mins: no UDF, no fold, no driver loop, and both engines evaluate
    the sums in the same ts order (``order_col`` must be unique per key).
    Score = max(s+, s−)/std (0 when std = 0); threshold 5.0/sensitivity.
    """
    threshold = CUSUM_BASE_THRESHOLD / sensitivity
    src, v, wg = _with_v(src, value_col), "__v", _w(keys)
    run = _w(keys, order_col, "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW")
    # NULL (and so NaN/±Inf) values: the other detectors never flag them;
    # here the prefix sums would SKIP the null and the row would inherit
    # the previous drift score — drop such rows up front instead (stats
    # are unchanged: avg/stddev/count already ignore nulls)
    stats = _stage(f"(SELECT * FROM {src} WHERE {v} is not null)", [
        f"avg({v}) OVER {wg} AS __mean", f"stddev_pop({v}) OVER {wg} AS __std",
        f"count({v}) OVER {wg} AS __cnt"], "__cnt >= 2", ["__cnt"])
    k = f"{_d(slack)} * __std"
    # note: names stay case-DISTINCT (__psum vs __sp) — Spark SQL resolves
    # identifiers case-insensitively, so __Sp/__sp would be ambiguous
    sums = _stage(f"({stats})", [f"sum({v} - __mean - {k}) OVER {run} AS __psum",
                                 f"sum(__mean - {v} - {k}) OVER {run} AS __nsum"])
    drift = _stage(f"({sums})", [
        f"__psum - least({_d(0)}, min(__psum) OVER {run}) AS __sp",
        f"__nsum - least({_d(0)}, min(__nsum) OVER {run}) AS __sn"],
        drop=["__mean", "__psum", "__nsum"])
    score = (f"case when __std = {_d(0)} then {_d(0)} "
             f"else greatest(__sp, __sn) / __std end")
    return _scored(f"({drift})", score, threshold, ["__std", "__sp", "__sn", "__v"])


_SEVERITY_CUTS = {
    "zscore": (5.0, 3.5),
    "iqr": (3.0, 1.5),
    "moving_average": (4.0, 2.5),
}


def format_sql(src: str, method: str, keys: list[str], order_col: str = "ts",
               value_col: str = "value") -> str:
    """A5 severity + A6 anomaly-only formatting (algorithms.py:201-279)
    over a detector's output relation."""
    hi, med = _SEVERITY_CUTS.get(method, (5.0, 2.5))
    cols = ", ".join(f"`{c}`" for c in (*keys, order_col))
    return (f"SELECT {cols}, `{value_col}` AS value, score, is_anomaly, "
            f"threshold, '{method}' AS method, "
            f"case when score > {_d(hi)} then 'high' "
            f"when score > {_d(med)} then 'medium' else 'low' end AS severity "
            f"FROM {src} WHERE is_anomaly")


def detection_sql(src: str, keys: list[str], config: dict | None = None,
                  order_col: str = "ts", value_col: str = "value") -> str:
    """A7 dispatcher mirroring detector.py:92-126 defaults: method zscore,
    sensitivity 1.0, min_data_points 7. Series below min_data_points are
    dropped wholesale; the detector's anomalies are formatted."""
    cfg = {"detection_method": "zscore", "sensitivity": 1.0, "min_data_points": 7,
           "config_params": {}, **(config or {})}
    method = cfg["detection_method"]
    sens = float(cfg["sensitivity"])
    params = cfg.get("config_params") or {}
    eligible = _stage(
        src, [f"count({_finite(value_col)}) OVER {_w(keys)} AS __npts"],
        f"__npts >= {int(cfg['min_data_points'])}", ["__npts"])
    args = (f"({eligible})", keys, order_col, value_col, sens)
    if method == "zscore":
        det = zscore_sql(*args, params.get("window"))
    elif method == "iqr":
        det = iqr_sql(*args, params.get("window"))
    elif method == "moving_average":
        det = moving_average_sql(*args, params.get("window", 7),
                                 params.get("std_window"))
    elif method == "cusum":
        det = cusum_sql(*args, params.get("slack", 0.5))
    else:
        raise ValueError(f"unknown detection method: {method}")
    return format_sql(f"({det})", method, keys, order_col, value_col)


# DataFrame operators: the builders above rendered over their input.

def zscore_anomalies(df: DataFrame, keys: list[str], order_col: str = "ts",
                     value_col: str = "value", sensitivity: float = 1.0,
                     window: int | None = None) -> DataFrame:
    """``zscore_sql`` over ``df``."""
    return _render(df, zscore_sql(_SRC, keys, order_col, value_col,
                                  sensitivity, window))


def iqr_anomalies(df: DataFrame, keys: list[str], order_col: str = "ts",
                  value_col: str = "value", sensitivity: float = 1.0,
                  window: int | None = None) -> DataFrame:
    """``iqr_sql`` over ``df``."""
    return _render(df, iqr_sql(_SRC, keys, order_col, value_col,
                               sensitivity, window))


def moving_average_anomalies(df: DataFrame, keys: list[str],
                             order_col: str = "ts", value_col: str = "value",
                             sensitivity: float = 1.0, window: int = 7,
                             std_window: int | None = None) -> DataFrame:
    """``moving_average_sql`` over ``df``."""
    return _render(df, moving_average_sql(_SRC, keys, order_col, value_col,
                                          sensitivity, window, std_window))


def mad_anomalies(df: DataFrame, keys: list[str], order_col: str = "ts",
                  value_col: str = "value",
                  sensitivity: float = 1.0) -> DataFrame:
    """``mad_sql`` over ``df``."""
    return _render(df, mad_sql(_SRC, keys, order_col, value_col, sensitivity))


def cusum_anomalies(df: DataFrame, keys: list[str], order_col: str = "ts",
                    value_col: str = "value", sensitivity: float = 1.0,
                    slack: float = 0.5) -> DataFrame:
    """``cusum_sql`` over ``df``."""
    return _render(df, cusum_sql(_SRC, keys, order_col, value_col,
                                 sensitivity, slack))


def format_anomalies(df: DataFrame, method: str, keys: list[str],
                     order_col: str = "ts", value_col: str = "value") -> DataFrame:
    """``format_sql`` over ``df``."""
    return _render(df, format_sql(_SRC, method, keys, order_col, value_col))


def detect_anomalies(df: DataFrame, keys: list[str], config: dict | None = None,
                     order_col: str = "ts", value_col: str = "value") -> DataFrame:
    """``detection_sql`` over ``df``."""
    return _render(df, detection_sql(_SRC, keys, config, order_col, value_col))
