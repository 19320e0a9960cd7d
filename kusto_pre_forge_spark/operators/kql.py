"""The emitted-KQL operator layer (SURVEY §2.5).

The reference delegates all relational work to Kusto; this module provides
native Spark implementations of every KQL construct the reference emits,
with KQL-faithful semantics. Emission sites cited per function — e.g. the
partitioning-config query ``... | project ... | where ... | mv-expand ...``
at code/KustoPreForgeLib/EtlRun.cs:150-164, the shard-tracking queries at
code/IntegrationTests/TestBase.cs:308-336, and the invariant assertions at
code/IntegrationTests/Text/NoHeaderNoCompressionTest.cs:19-51.

Everything here is a thin, lazily-composed wrapper over DataFrame ops —
Catalyst sees through all of it (predicate pushdown, column pruning, codegen
still apply). Nothing collects; nothing drops to Python row loops.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

# --------------------------------------------------------------------------
# tabular operators
# --------------------------------------------------------------------------


def project(df: DataFrame, **cols: Column | str) -> DataFrame:
    """KQL ``project a = expr, b`` — select/rename/compute.

    Emitted at EtlRun.cs:153-159 and TestBase.cs:316,331.
    """
    return df.select(*[(F.col(c) if isinstance(c, str) else c).alias(name) for name, c in cols.items()])


def where(df: DataFrame, predicate: Column | str) -> DataFrame:
    """KQL ``where pred`` — emitted at EtlRun.cs:155, TestBase.cs:313,330."""
    return df.filter(predicate)


def extend(df: DataFrame, **cols: Column) -> DataFrame:
    """KQL ``extend c = expr`` — computed columns (schema.kql:10-21)."""
    return df.withColumns(dict(cols))


def mv_expand(df: DataFrame, col: str, to: str | None = None) -> DataFrame:
    """KQL ``mv-expand c`` — explode an array/dynamic column row-wise.

    Emitted at EtlRun.cs:154, TestBase.cs:314,329. KQL drops rows whose
    array is empty/null — Spark's ``explode`` (not ``explode_outer``)
    matches that exactly.
    """
    out = to or col
    others = [c for c in df.columns if c != col]
    return df.select(*others, F.explode(F.col(col)).alias(out))


def mv_apply(df: DataFrame, col: str, inner, to: str | None = None) -> DataFrame:
    """KQL ``mv-apply c on (subquery)`` — per-row array subquery.

    Emitted at schema.kql:11-15. ``inner`` is a lambda over the element
    Column returning a Column; implemented with higher-order functions so
    it never explodes/regroups (no shuffle at all).
    """
    return df.withColumn(to or col, F.transform(F.col(col), inner))


def summarize(
    df: DataFrame,
    by: Sequence[str],
    aggs: Mapping[str, Column],
) -> DataFrame:
    """KQL ``summarize agg1 = f(x), ... by k1, k2``.

    Emitted at TestBase.cs:311,328 and NoHeaderNoCompressionTest.cs:25-33.
    Hash aggregate with map-side partial aggregation — the scalable default.
    """
    exprs = [c.alias(name) for name, c in aggs.items()]
    return df.groupBy(*by).agg(*exprs) if by else df.agg(*exprs)


def distinct_of(df: DataFrame, *cols: str) -> DataFrame:
    """KQL ``summarize by k`` ≡ ``distinct k`` (NoHeaderNoCompressionTest.cs:25-26)."""
    return df.select(*cols).distinct()


def count_rows(df: DataFrame, alias: str = "Count") -> DataFrame:
    """KQL ``count`` / ``toscalar(... | count)`` (NoHeaderNoCompressionTest.cs:26-34)."""
    return df.agg(F.count(F.lit(1)).alias(alias))


def take_any(col: Column | str) -> Column:
    """KQL ``take_any(x)`` aggregate — any value per group.

    Emitted at TestBase.cs:311,328. KQL picks an arbitrary value; we pin
    ``min`` so results are deterministic and oracle-checkable (any single
    value satisfies take_any's contract).
    """
    return F.min(col)


def take(df: DataFrame, n: int) -> DataFrame:
    """KQL ``take n`` — e.g. ``take 0`` at TestCaseConfiguration.cs:63."""
    return df.limit(n)


def top(df: DataFrame, n: int, by: Sequence[Column]) -> DataFrame:
    """KQL ``top n by expr`` — capability row in SURVEY §2.5 (sort/top-k).

    Spark's ``orderBy().limit()`` compiles to TakeOrderedAndProject: each
    task keeps a size-n heap, only n rows per task reach the driver-side
    merge — no global sort at any scale.
    """
    return df.orderBy(*by).limit(n)


def kql_range(spark: SparkSession, name: str, start: int, stop: int, step: int = 1) -> DataFrame:
    """KQL ``range x from a to b step s`` — inclusive bounds (schema.kql:6,9)."""
    return spark.range(start, stop + (1 if step > 0 else -1), step).withColumnRenamed("id", name)


# --------------------------------------------------------------------------
# scalar / aggregate functions
# --------------------------------------------------------------------------


def todynamic(col: Column | str) -> Column:
    """KQL ``todynamic(json)`` (EtlRun.cs:153) — parse to a VariantType.

    Spark 4's VARIANT is the dynamic type; path access via
    ``variant_get``. For fixed shapes prefer ``from_json`` with a schema.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.parse_json(c)


def dynamic_get(col: Column, path: str, typ: str) -> Column:
    """Path access ``x.y.z`` on a dynamic value (EtlRun.cs:157-159)."""
    return F.try_variant_get(col, f"$.{path}", typ)


def json_path(col: Column | str, path: str) -> Column:
    """``todynamic(x).y`` shortcut over raw JSON text without variant."""
    c = F.col(col) if isinstance(col, str) else col
    return F.get_json_object(c, f"$.{path}")


def tostring(c: Column) -> Column:
    """KQL ``tostring`` (EtlRun.cs:157-159)."""
    return c.cast("string")


def toint(c: Column) -> Column:
    """KQL ``toint`` — KQL returns null on unparsable input, as try_cast."""
    return c.try_cast("int")


def tolong(c: Column) -> Column:
    return c.try_cast("long")


def todouble(c: Column) -> Column:
    return c.try_cast("double")


def todatetime(c: Column) -> Column:
    """KQL ``todatetime`` (NoHeaderNoCompressionTest.cs:23)."""
    return c.try_cast("timestamp")


def has_term(col: Column | str, term: str) -> Column:
    """KQL ``x has "term"`` — whole-term, case-insensitive match.

    Emitted at TestBase.cs:313,330. KQL's ``has`` matches on token
    boundaries (alphanumeric runs), not substrings: "North has 'nor'" is
    false. Implemented as a case-insensitive regex with non-alphanumeric
    boundaries — stays in codegen (Java regex), no UDF.
    """
    c = F.col(col) if isinstance(col, str) else col
    import re as _re

    pat = f"(?i)(^|[^a-zA-Z0-9]){_re.escape(term)}($|[^a-zA-Z0-9])"
    return c.rlike(pat)


def split_ix(col: Column | str, sep: str, ix: int) -> Column:
    """KQL ``split(s, sep)[i]`` (TestBase.cs:316,331).

    KQL split is a *literal* separator; Spark's F.split takes a regex, so
    the separator is quoted. Out-of-range index yields NULL in both —
    ``F.get`` (not ``[]``, which throws under ANSI mode).
    """
    import re as _re

    c = F.col(col) if isinstance(col, str) else col
    return F.get(F.split(c, _re.escape(sep)), ix)


def parse_csv(col: Column | str, schema: str) -> Column:
    """KQL ``parse_csv(line)`` (NoHeaderNoCompressionTest.cs:22).

    RFC-4180 quoting ("" escapes) to match CsvParseTransform.cs:64-82.
    Returns a struct; access fields positionally like KQL's array index.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.from_csv(c, schema, {"quote": '"', "escape": '"'})


def case_(*args: tuple[Column, Column] | Column) -> Column:
    """KQL ``case(pred1, val1, pred2, val2, ..., default)`` (schema.kql:18)."""
    *pairs, default = args
    expr: Column | None = None
    for pred, val in pairs:
        expr = F.when(pred, val) if expr is None else expr.when(pred, val)
    return default if expr is None else expr.otherwise(default)


def make_list(col: Column | str, sort: bool = True) -> Column:
    """KQL ``make_list(x)`` aggregate (schema.kql:8,14).

    KQL's list order is arrival order (nondeterministic under parallel
    scan); we sort by default so results are stable and oracle-checkable.
    """
    c = F.collect_list(col)
    return F.sort_array(c) if sort else c


def strcat(*cols: Column | str) -> Column:
    """KQL ``strcat(...)`` (schema.kql:16,20)."""
    return F.concat(*[F.lit(c) if isinstance(c, str) else c for c in cols])


def strcat_array(col: Column, sep: str) -> Column:
    """KQL ``strcat_array(arr, sep)`` (schema.kql:16)."""
    return F.array_join(col, sep)


def array_length(col: Column | str) -> Column:
    """KQL ``array_length`` (schema.kql:21)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.size(c)


def new_guid() -> Column:
    """KQL ``new_guid()`` (schema.kql:7). Nondeterministic by nature."""
    return F.expr("uuid()")


def now() -> Column:
    """KQL ``now()`` (schema.kql:19)."""
    return F.current_timestamp()


def datetime_add_seconds(ts: Column, seconds: Column) -> Column:
    """KQL ``ts - 1s * n`` arithmetic (schema.kql:19) — second granularity."""
    return F.timestamp_add("SECOND", seconds.cast("long"), ts)


def bin(col: Column, interval: str) -> Column:
    """KQL ``bin(ts, 1d)`` — time bucketing (standard KQL companion of
    summarize; Spark's date_trunc/window equivalent)."""
    return F.date_trunc(interval, col)


def print_expr(spark: SparkSession, **exprs: Column) -> DataFrame:
    """KQL ``print name = expr, ...`` — a one-row table of scalars
    (emission shape: the let/print invariant probes,
    code/IntegrationTests/Text/NoHeaderNoCompressionTest.cs:21-38)."""
    return spark.range(1).select(*[c.alias(n) for n, c in exprs.items()])


def toscalar(df: DataFrame) -> Column:
    """KQL ``toscalar(T)`` — first column of the first row as a scalar
    usable in another query (NoHeaderNoCompressionTest.cs:26-34). Spark
    form: a literal produced from a driver-evaluated 1×1 result; the input
    must already aggregate to one row (e.g. ``count_rows``)."""
    row = df.limit(1).collect()
    if not row:
        return F.lit(None)
    return F.lit(row[0][0])


def export_csv(
    df: DataFrame,
    prefix: str,
    size_limit_bytes: int | None = None,
    include_headers: bool = True,
    distribution: int | None = None,
) -> None:
    """KQL ``.export to csv (prefix) with (sizeLimit, includeHeaders,
    distribution)`` — the reference exports its 10M-row test dataset this
    way (code/IntegrationTests/TestBase.cs:397-408).

    Spark caps files by record count, not bytes, so ``sizeLimit``
    approximates via rows-per-file = limit / sampled-average-row-width
    (declared approximation, SURVEY §7 "What's hard" — the reference's own
    cap applies to compressed bytes and no test requires byte exactness).
    ``distribution`` ≡ per-node export parallelism → ``repartition(n)``.
    """
    writer_df = df
    opts: dict[str, str] = {"header": str(include_headers).lower()}
    if size_limit_bytes:
        sample = df.limit(1000).select(
            F.sum(F.octet_length(F.concat_ws(",", *df.columns))).alias("b"),
            F.count(F.lit(1)).alias("n"),
        ).collect()[0]
        avg_row = (sample["b"] or 1) / max(sample["n"] or 1, 1) + 1
        opts["maxRecordsPerFile"] = str(max(int(size_limit_bytes / avg_row), 1))
    if distribution:
        writer_df = writer_df.repartition(distribution)
    writer_df.write.mode("overwrite").options(**opts).csv(prefix)


def dcount(col: Column | str, exact: bool = False) -> Column:
    """KQL ``dcount(col)`` — distinct count, approximate (HLL++) by
    default like Kusto's; ``exact=True`` for the precise variant (KQL's
    ``count_distinct``). The approximate form is the 100 TB default: one
    pass, fixed memory, mergeable sketch."""
    return F.count_distinct(F.col(col) if isinstance(col, str) else col) if exact \
        else F.approx_count_distinct(col)


def percentiles(col: Column | str, *ps: float, approx: bool = False) -> list[Column]:
    """KQL ``percentiles(col, p1, p2, ...)`` — exact linear-interpolation
    percentiles by default (KQL's percentiles are estimates; we expose the
    exact form for oracle-checkable results and ``approx=True`` —
    percentile_approx, fixed-memory, mergeable — as the 100 TB default)."""
    c = F.col(col) if isinstance(col, str) else col
    fn = F.percentile_approx if approx else F.percentile
    return [fn(c, p / 100.0).alias(f"p{int(p)}") for p in ps]


def extract(col: Column | str, pattern: str, group: int = 0) -> Column:
    """KQL ``extract(regex, captureGroup, text)`` — regexp capture."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_extract(c, pattern, group)


# --------------------------------------------------------------------------
# common KQL scalar functions (1-line Spark equivalents, grouped here so a
# Kusto user finds the name they know; all stay inside codegen)
# --------------------------------------------------------------------------


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def iif(cond: Column, then_val: Column, else_val: Column) -> Column:
    """KQL ``iif(cond, a, b)``."""
    return F.when(cond, then_val).otherwise(else_val)


def isempty(col: Column | str) -> Column:
    """KQL ``isempty`` — true for null or ''."""
    c = _c(col)
    return c.isNull() | (c == "")


def strlen(col: Column | str) -> Column:
    return F.length(_c(col))


def kql_substring(col: Column | str, start: int, length: int | None = None) -> Column:
    """KQL ``substring(s, start[, length])`` — 0-based start."""
    c = _c(col)
    return F.substring(c, start + 1, length) if length is not None else F.expr(
        f"substring({c._jc.toString()}, {start + 1})"
    )


def replace_string(col: Column | str, lookup: str, rewrite: str) -> Column:
    """KQL ``replace_string`` — literal (non-regex) replacement."""
    return F.replace(_c(col), F.lit(lookup), F.lit(rewrite))


def tolower(col: Column | str) -> Column:
    return F.lower(_c(col))


def toupper(col: Column | str) -> Column:
    return F.upper(_c(col))


def countif(cond: Column) -> Column:
    """KQL ``countif(predicate)`` aggregate."""
    return F.sum(F.when(cond, 1).otherwise(0)).cast("bigint")


def sumif(col: Column | str, cond: Column) -> Column:
    """KQL ``sumif(col, predicate)`` aggregate."""
    return F.sum(F.when(cond, _c(col)))


def make_set(col: Column | str) -> Column:
    """KQL ``make_set`` — distinct values as a (sorted, deterministic) array."""
    return F.array_sort(F.collect_set(_c(col)))


def startofday(col: Column | str) -> Column:
    """KQL ``startofday``."""
    return F.date_trunc("day", _c(col))


def endofday(col: Column | str) -> Column:
    """KQL ``endofday`` — last instant of the day (start of next day - 1µs)."""
    return F.date_trunc("day", _c(col)) + F.expr("INTERVAL 1 DAY") - F.expr(
        "INTERVAL 1 MICROSECOND"
    )


def ago(interval_expr: str) -> Column:
    """KQL ``ago(1h)``-style — now() minus a SQL interval string."""
    return F.current_timestamp() - F.expr(f"INTERVAL {interval_expr}")


def _build_parse_pattern(
    segments, regex_literals: bool = False
) -> tuple[str, list[tuple[str, str]]]:
    """(regex, captures) for the KQL ``parse`` segment list — ONE builder
    shared by ``parse_pattern`` and ``parse_where`` so the row filter and
    the extractor can never disagree. ``regex_literals`` is KQL's
    ``kind=regex``: the string segments are regex fragments, used raw."""
    import re as _re

    pattern = "^"
    caps: list[tuple[str, str]] = []
    for i, seg in enumerate(segments):
        if isinstance(seg, str):
            pattern += seg if regex_literals else _re.escape(seg)
        else:
            name, typ = seg
            is_last_capture = all(isinstance(s, str) for s in segments[i + 1 :])
            pattern += "(.*)" if is_last_capture else "(.*?)"
            caps.append((name, typ))
    return pattern, caps


def parse_pattern(
    df: DataFrame, col: Column | str, *segments, regex_literals: bool = False
) -> DataFrame:
    """KQL ``parse Col with "lit" Name:type "lit2" Name2:type2 ...``.

    ``segments`` alternate string literals and ``(name, type)`` capture
    tuples, e.g.::

        parse_pattern(df, "c_name", "Customer#", ("cnum", "long"))

    Compiles to ONE regexp_extract-based projection (anchored, literals
    regex-escaped, captures non-greedy except the last) — a single
    codegen'd pass, not one regex per field.
    """
    c = _c(col)
    pattern, caps = _build_parse_pattern(segments, regex_literals)
    out = df
    for gi, (name, typ) in enumerate(caps, start=1):
        val = F.regexp_extract(c, pattern, gi)
        if typ and typ != "string":
            # try_cast, not cast: plain `parse` KEEPS non-matching rows,
            # whose empty captures must become NULL (ANSI cast would
            # fail the job on the first non-matching row)
            val = val.try_cast(typ)
        out = out.withColumn(name, val)
    return out


def make_series(
    df: DataFrame,
    on: Column | str,
    step: str,
    by: list[str],
    agg: Column,
    default: float | None = 0.0,
    value_name: str = "series_value",
    ts_name: str = "series_ts",
    exploded: bool = False,
    lo: Column | None = None,
    hi: Column | None = None,
) -> DataFrame:
    """KQL ``make-series agg() default=d on Ts [from lo to hi] step S
    by Keys``.

    KQL extension beyond the reference's emitted surface (SURVEY §2.5 notes
    the reference delegates relational work to Kusto; make-series is the
    canonical Kusto time-series operator, so capability parity needs it).

    Spark-first plan, no collect():
      1. bucket ``on`` to ``step`` (date_trunc) and aggregate per (keys, bucket);
      2. derive the axis bounds with a 1-row global agg, expand to the dense
         axis via ``sequence() + explode`` (a literal-sized broadcast side);
      3. dense axis = distinct-keys x axis (broadcast cross join — the axis
         is tiny), left-join the aggregates, fill ``default``.

    With ``exploded=True`` returns long form ``(keys..., ts_name,
    value_name)`` (= make-series | mv-expand, hash-friendly); otherwise the
    true KQL shape with aligned ``dynamic`` arrays per key row.

    At 100 TB the only shuffles are the per-bucket aggregation (map-side
    partial combine) and the distinct over keys; the axis join is broadcast.

    ``lo``/``hi`` (both or neither) are KQL's explicit ``from lo to hi``
    bounds: the axis spans [lo, hi) and rows outside are excluded —
    and, per Kusto's ``bin_at`` semantics, buckets ALIGN TO ``lo``
    rather than to calendar boundaries (a ``from 02:30`` hourly series
    buckets at :30). Fixed-width steps only (day and below — months
    are not fixed-width, same as bin_at).
    """
    step_interval = {"hour": "1 hour", "day": "1 day", "minute": "1 minute",
                     "week": "1 week", "month": "1 month"}.get(step, step)
    if (lo is None) != (hi is None):
        raise ValueError("make_series: pass both lo and hi, or neither")
    if lo is not None:
        secs = {"week": 604800, "day": 86400, "hour": 3600,
                "minute": 60, "second": 1}.get(step)
        if secs is None:
            raise ValueError(
                f"make_series from/to needs a fixed-width step, got {step!r}"
            )
        df = df.where((_c(on) >= lo) & (_c(on) < hi))
        lo_s = F.unix_timestamp(lo)
        b = F.timestamp_seconds(
            lo_s
            + F.floor((F.unix_timestamp(_c(on)) - lo_s) / secs) * secs
        ).alias("_bucket")
        binned = df.groupBy(*by, b).agg(agg.alias(value_name))
        # the axis MUST use the same epoch-seconds arithmetic as the bucket
        # labels above: a calendar INTERVAL sequence diverges from
        # lo + k*secs across a DST transition (day/week steps in a
        # DST-observing session timezone), and every post-transition bucket
        # would miss the axis join and silently read as `default`.
        hi_s = F.unix_timestamp(hi)
        axis = (
            df.sparkSession.range(1)
            .select(
                F.explode(
                    F.sequence(
                        F.lit(0).cast("long"),
                        F.floor((hi_s - lo_s - F.lit(1)) / secs).cast("long"),
                    )
                ).alias("_k")
            )
            .select(
                F.timestamp_seconds(lo_s + F.col("_k") * secs).alias("_bucket")
            )
            .where((F.col("_bucket") >= lo) & (F.col("_bucket") < hi))
        )
    else:
        b = F.date_trunc(step, _c(on)).alias("_bucket")
        binned = df.groupBy(*by, b).agg(agg.alias(value_name))
        bounds = df.agg(
            F.min(F.date_trunc(step, _c(on))).alias("_lo"),
            F.max(F.date_trunc(step, _c(on))).alias("_hi"),
        )
        axis = bounds.select(
            F.explode(
                F.sequence(F.col("_lo"), F.col("_hi"), F.expr(f"INTERVAL {step_interval}"))
            ).alias("_bucket")
        )
    keys = df.select(*by).distinct()
    dense = keys.crossJoin(F.broadcast(axis))
    out = dense.join(binned, [*by, "_bucket"], "left")
    if default is not None:
        out = out.withColumn(
            value_name, F.coalesce(F.col(value_name), F.lit(default))
        )
    # default=None keeps gaps as nulls — feed to series_fill_linear
    out = out.withColumnRenamed("_bucket", ts_name)
    if exploded:
        return out
    pair = F.array_sort(F.collect_list(F.struct(F.col(ts_name), F.col(value_name))))
    return out.groupBy(*by).agg(
        F.transform(pair, lambda s: s[ts_name]).alias(ts_name),
        F.transform(pair, lambda s: s[value_name]).alias(value_name),
    )


def join_innerunique(
    left: DataFrame,
    right: DataFrame,
    on: list[str],
    left_order: list[str],
) -> DataFrame:
    """KQL ``join kind=innerunique`` — Kusto's DEFAULT join flavor: the left
    side is first deduplicated to one arbitrary row per key, then
    inner-joined. Kusto picks a nondeterministic row; we take the first row
    under ``left_order`` so results are stable and oracle-checkable.

    Implemented as row_number()-over-window (one shuffle on the join key that
    the subsequent join reuses — the window's hash partitioning co-locates
    the rows the join needs, so AQE plans a single exchange on the left).
    """
    w = Window.partitionBy(*on).orderBy(*[_c(c) for c in left_order])
    deduped = (
        left.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1).drop("_rn")
    )
    return deduped.join(right, on, "inner")


def top_nested(
    df: DataFrame,
    outer_key: str,
    inner_key: str,
    measure: Column,
    k_outer: int,
    k_inner: int,
    outer_alias: str = "outer_measure",
    inner_alias: str = "inner_measure",
    others_label: str | None = None,
) -> DataFrame:
    """KQL ``top-nested k1 of A by agg, top-nested k2 of B by agg`` —
    hierarchical top-k: keep the top ``k_outer`` outer groups by the summed
    measure, and within each the top ``k_inner`` inner groups.

    ``others_label`` enables KQL's ``with others = "label"`` rows: per kept
    outer group, one row (inner_key = label) carrying the measure NOT in
    its top-k inner groups; plus one row (outer_key = inner_key = label)
    carrying the measure of all non-top outer groups. Key columns are cast
    to string so the label can occupy them, as KQL renders it.

    Ties broken by key name so results are deterministic/oracle-checkable.
    Pass a decimal-typed ``measure`` when exact cross-engine sums matter
    (the outer level re-sums the inner aggregates, and the others rows are
    exact differences of those sums).

    Scale notes: the inner aggregation is the only full-data shuffle; both
    rankings run over group-cardinality-sized data (the outer ranking's
    unpartitioned window is bounded by |outer_key| — fine for the dimension
    cardinalities top-nested targets), and the final join broadcasts the
    ≤k_outer-row outer side. The others rows derive from the same
    aggregates — no extra pass over the data.
    """
    # pin the one full-data aggregate: outer totals AND the inner
    # ranking both read it, and without truncation the fact scan +
    # shuffle inlines once per consumer (r14; output is bounded by
    # |outer_key × inner_key| — dimension-sized at any corpus scale)
    inner = df.groupBy(outer_key, inner_key).agg(
        measure.alias(inner_alias)
    ).localCheckpoint(eager=False)
    outer = inner.groupBy(outer_key).agg(F.sum(inner_alias).alias(outer_alias))
    wo = Window.orderBy(F.col(outer_alias).desc(), F.col(outer_key))
    top_outer = (
        outer.withColumn("_r", F.row_number().over(wo))
        .filter(F.col("_r") <= k_outer)
        .drop("_r")
    )
    wi = Window.partitionBy(outer_key).orderBy(
        F.col(inner_alias).desc(), F.col(inner_key)
    )
    top_inner = (
        inner.withColumn("_r", F.row_number().over(wi))
        .filter(F.col("_r") <= k_inner)
        .drop("_r")
    )
    kept = F.broadcast(top_outer).join(top_inner, outer_key, "inner")
    if others_label is None:
        return kept

    label = F.lit(others_label)
    kept = kept.select(
        F.col(outer_key).cast("string").alias(outer_key),
        F.col(outer_alias),
        F.col(inner_key).cast("string").alias(inner_key),
        F.col(inner_alias),
    )
    # inner others: outer total minus the kept inner sums, per kept group
    kept_inner_sums = top_inner.groupBy(outer_key).agg(
        F.sum(inner_alias).alias("_kept")
    )
    inner_others = (
        top_outer.join(kept_inner_sums, outer_key)
        .select(
            F.col(outer_key).cast("string").alias(outer_key),
            F.col(outer_alias),
            label.alias(inner_key),
            (F.col(outer_alias) - F.col("_kept")).alias(inner_alias),
        )
    )
    # outer others: everything outside the kept outer groups, one row
    grand = outer.agg(F.sum(outer_alias).alias("_total"))
    kept_outer_sum = top_outer.agg(F.sum(outer_alias).alias("_kept"))
    outer_others = (
        grand.crossJoin(kept_outer_sum)
        .select(
            label.alias(outer_key),
            (F.col("_total") - F.col("_kept")).alias(outer_alias),
            label.alias(inner_key),
            (F.col("_total") - F.col("_kept")).alias(inner_alias),
        )
    )
    return kept.unionByName(inner_others).unionByName(outer_others)


def union_tables(*dfs: DataFrame) -> DataFrame:
    """KQL ``union`` — multi-table union aligned BY COLUMN NAME, with
    missing columns null-filled (KQL unions heterogeneous tables; SQL's
    positional UNION ALL does not). ``unionByName(allowMissingColumns)``
    is the exact Spark primitive: a zero-shuffle narrow concatenation of
    inputs — partitions append, nothing moves.
    """
    out = dfs[0]
    for df in dfs[1:]:
        out = out.unionByName(df, allowMissingColumns=True)
    return out


def series_fill_linear(
    df: DataFrame,
    on: Column | str,
    value: str,
    by: list[str],
    out_name: str | None = None,
) -> DataFrame:
    """KQL ``series_fill_linear`` — linearly interpolate null gaps in a
    (long-form) series, clamping leading/trailing gaps to the nearest
    non-null value. Companion of :func:`make_series` with ``default=None``.

    Pure window-function plan (ignore-nulls last/first over the
    per-key ordering): the struct trick ``last(when(v notnull,
    struct(pos, v)), ignorenulls=True)`` carries the *position* of the
    bracketing non-null samples, so irregular axes interpolate correctly.
    One hash partitioning on the series keys, no UDF, no collect.
    """
    out_name = out_name or value
    ts = _c(on)
    v = F.col(value)
    pos = ts.cast("long")  # epoch seconds; exact for binned axes
    w = Window.partitionBy(*by).orderBy(ts)
    prev = F.last(
        F.when(v.isNotNull(), F.struct(pos.alias("p"), v.alias("v"))), ignorenulls=True
    ).over(w.rowsBetween(Window.unboundedPreceding, -1))
    nxt = F.first(
        F.when(v.isNotNull(), F.struct(pos.alias("p"), v.alias("v"))), ignorenulls=True
    ).over(w.rowsBetween(1, Window.unboundedFollowing))
    interp = prev["v"] + (nxt["v"] - prev["v"]) * (pos - prev["p"]) / (
        nxt["p"] - prev["p"]
    )
    filled = (
        F.when(v.isNotNull(), v)
        .when(prev.isNull() & nxt.isNotNull(), nxt["v"])
        .when(nxt.isNull() & prev.isNotNull(), prev["v"])
        .otherwise(interp)
    )
    return df.withColumn(out_name, filled)


def lookup(
    left: DataFrame,
    dim: DataFrame,
    on: list[str],
    kind: str = "leftouter",
) -> DataFrame:
    """KQL ``lookup kind=leftouter DimTable on Key`` — join against a
    dimension table. KQL's lookup is defined for small right sides; we
    encode that contract in the plan with an explicit ``broadcast`` hint
    (the fact side never shuffles). ``kind`` ∈ {leftouter, inner}.
    """
    if kind not in ("leftouter", "inner"):
        raise ValueError("lookup supports kind=leftouter|inner")
    return left.join(F.broadcast(dim), on, kind)


def top_hitters(
    df: DataFrame,
    of: str,
    k: int,
    by_sum: str | None = None,
    count_name: str = "approximate_count",
) -> DataFrame:
    """KQL ``top-hitters k of Col [by SumCol]`` — heavy hitters.

    KQL computes this approximately (space-saving sketch); at Spark scale
    the exact two-stage plan is already cheap — a map-side-combined
    groupBy(of) whose output is |distinct of| rows, then TakeOrderedAndProject
    for the top k (per-task heaps, no global sort) — so we return EXACT
    counts under the same contract (KQL's column name is kept).
    """
    measure = (
        F.count(F.lit(1)) if by_sum is None else F.sum(F.col(by_sum))
    ).alias(count_name)
    agg = df.groupBy(of).agg(measure)
    return agg.orderBy(F.col(count_name).desc(), F.col(of)).limit(k)


def heavy_hitters_sketch(
    df: DataFrame,
    item_col: str,
    k: int = 16,
    n_buckets: int = 8,
    salt: str = "kpf-hh",
    two_level: bool = False,
) -> DataFrame:
    """SpaceSaving heavy-hitters sketch (Metwally et al. 2005) — the
    bounded-memory form of KQL ``top-hitters`` (what Kusto itself runs
    under that operator; :func:`top_hitters` is the exact twin). Items
    hash (md5 — oracle-replayable) into ``n_buckets`` groups; each group
    keeps AT MOST ``k`` ``(item, est, err)`` counters: a hit increments
    its counter, a new item beyond capacity evicts the minimum counter m
    and starts at ``est = m.est + 1, err = m.est``. Guarantees (per
    bucket, N = bucket rows): every item with true count > N/k is
    retained, ``true ≤ est ≤ true + N/k``.

    Batch determinism: each bucket's rows are processed in sorted item
    order and min-ties evict the lexicographically LAST item, so the
    sketch is a pure function of the multiset — replayable by tests and
    oracles. The streaming twin
    (:func:`~kusto_pre_forge_spark.streaming.windows.streaming_heavy_hitters`)
    processes in arrival order and carries the counters across
    micro-batches as explicit state.

    Scale: state is ``n_buckets × k`` counters TOTAL regardless of
    distinct-item cardinality — this is the op to reach for when the
    exact ``groupBy(item)`` would shuffle a distinct-key set too large to
    aggregate (the situation KQL's approximation exists for). One keyed
    shuffle of (bucket, item); Arrow-batched pandas, no per-row Python.

    Default path parallelism is ``n_buckets`` tasks (every row funnels
    into its bucket's task) — fine up to moderate volume, a ceiling at
    100 TB. ``two_level=True`` is the scale path: stage 1 runs an
    independent SpaceSaving PER INPUT PARTITION inside ``mapInPandas``
    (full scan parallelism, no shuffle — only partials move), stage 2
    merges each bucket's ≤ partitions×k partial counters with the
    standard mergeable-summaries compensation (Agarwal et al., PODS'12):
    an item ABSENT from a full partial could have hidden under that
    partial's minimum counter, so the merge adds ``min_full`` for absent
    partials to the upper estimate, then keeps the top k. Guarantees
    after merge: every item with global count > N/k survives (pigeonhole
    over partials), and ``true ≤ est ≤ true + N/k`` still holds (Σ of
    per-partial bounds). The merged ests depend on the physical
    partitioning (not on row order within partitions) — use the default
    path when bit-replayable output matters, ``two_level`` when scan
    parallelism does; the capture/bound guarantees hold for both.
    """
    if k < 1 or n_buckets < 2:
        raise ValueError("k >= 1 and n_buckets >= 2 required")
    src = df.select(
        F.col(item_col).cast("string").alias("item"),
        F.pmod(
            F.conv(
                F.substring(
                    F.md5(F.concat_ws("|", F.lit(salt), F.col(item_col).cast("string"))),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("long"),
            F.lit(int(n_buckets)),
        ).alias("bucket"),
    )

    def run(pdf):
        import pandas as pd

        bucket = int(pdf["bucket"].iloc[0])
        counters: dict[str, list[int]] = {}  # item -> [est, err]
        for item in sorted(pdf["item"]):
            if item in counters:
                counters[item][0] += 1
            elif len(counters) < k:
                counters[item] = [1, 0]
            else:
                evict = max(
                    counters, key=lambda it: (-counters[it][0], it)
                )  # min est; ties -> lexicographically last item
                m = counters.pop(evict)[0]
                counters[item] = [m + 1, m]
        items = sorted(counters)
        return pd.DataFrame(
            {
                "bucket": [bucket] * len(items),
                "item": items,
                "est": [counters[i][0] for i in items],
                "err": [counters[i][1] for i in items],
            }
        )

    if not two_level:
        return src.groupBy("bucket").applyInPandas(
            run, "bucket long, item string, est long, err long"
        )

    def partials(it):
        import pandas as pd

        # ONE summary per (input partition, bucket): accumulate across
        # every Arrow batch of the partition, emit once at the end —
        # the merge stage's per-partial min_full bookkeeping depends on
        # exactly one partial per partition
        per_bucket: dict[int, dict[str, list[int]]] = {}
        for pdf in it:
            for item, bucket in zip(pdf["item"], pdf["bucket"]):
                counters = per_bucket.setdefault(int(bucket), {})
                if item in counters:
                    counters[item][0] += 1
                elif len(counters) < k:
                    counters[item] = [1, 0]
                else:
                    evict = max(
                        counters, key=lambda it_: (-counters[it_][0], it_)
                    )
                    m = counters.pop(evict)[0]
                    counters[item] = [m + 1, m]
        rows = []
        for bucket, counters in per_bucket.items():
            # min_full: the compensation an ABSENT item needs in the
            # merge — 0 when this partial never evicted (not full)
            min_full = (
                min(e for e, _ in counters.values())
                if len(counters) >= k
                else 0
            )
            for item_, (e, r) in counters.items():
                rows.append(
                    {
                        "bucket": bucket,
                        "item": item_,
                        "est": e,
                        "err": r,
                        "min_full": min_full,
                    }
                )
        yield pd.DataFrame(
            rows, columns=["bucket", "item", "est", "err", "min_full"]
        )

    def merge(pdf):
        import pandas as pd

        bucket = int(pdf["bucket"].iloc[0])
        # partial id = rows sharing one min_full batch — reconstruct by
        # grouping on the emitted order is unsafe; instead carry each
        # partial's min_full on every row and aggregate per item:
        # est(item) = Σ present est + Σ absent partials' min_full.
        # Σ over all partials of min_full is a bucket-level constant:
        partial_minfulls = pdf.groupby("_pid")["min_full"].first()
        total_minfull = int(partial_minfulls.sum())
        agg = pdf.groupby("item").agg(
            est=("est", "sum"),
            err=("err", "sum"),
            present_minfull=("min_full", "sum"),
        )
        est_u = agg["est"] + (total_minfull - agg["present_minfull"])
        err_u = agg["err"] + (total_minfull - agg["present_minfull"])
        order = sorted(
            agg.index, key=lambda it_: (-int(est_u[it_]), it_)
        )[:k]
        keep = sorted(order)
        return pd.DataFrame(
            {
                "bucket": [bucket] * len(keep),
                "item": keep,
                "est": [int(est_u[i]) for i in keep],
                "err": [int(err_u[i]) for i in keep],
            }
        )

    part = src.mapInPandas(
        partials,
        "bucket long, item string, est long, err long, min_full long",
    ).withColumn("_pid", F.spark_partition_id())
    return part.groupBy("bucket").applyInPandas(
        merge, "bucket long, item string, est long, err long"
    )


def datatable(spark: SparkSession, schema: str, *rows: tuple) -> DataFrame:
    """KQL ``datatable(col:type, ...) [values]`` — inline literal table
    (the let-bound test fixtures shape, NoHeaderNoCompressionTest.cs:21-38).
    """
    return spark.createDataFrame(list(rows), schema)


def series_outliers(
    df: DataFrame,
    value: str,
    by: list[str],
    score_name: str = "outlier_score",
    fence_k: float = 1.5,
) -> DataFrame:
    """KQL ``series_outliers`` — Tukey-fence anomaly score per series.

    Matches KQL's fence-test semantics: points INSIDE the fences
    ``[q25 - k·IQR, q75 + k·IQR]`` score 0; outside, the score is the
    signed distance beyond the violated fence in IQR units
    (``(x - fence) / IQR``). 0 when the IQR collapses. (KQL's operator
    works on packed series arrays; this is the per-row grouped adaptation.)

    Two-stage distributed plan: exact interpolated quartiles per key
    (one map-side-combinable aggregation over the data; swap
    ``percentiles(..., approx=True)`` mechanics in at extreme key
    cardinality), broadcast-joined back onto the rows — the fact side
    never reshuffles. Scoring is pure codegen arithmetic.
    """
    q1, q3 = percentiles(value, 25, 75)
    quart = df.groupBy(*by).agg(q1.alias("_q1"), q3.alias("_q3"))
    joined = df.join(F.broadcast(quart), by, "inner")
    iqr = F.col("_q3") - F.col("_q1")
    lo = F.col("_q1") - fence_k * iqr
    hi = F.col("_q3") + fence_k * iqr
    x = F.col(value)
    score = (
        F.when(iqr == 0, F.lit(0.0))
        .when(x > hi, (x - hi) / iqr)
        .when(x < lo, (x - lo) / iqr)
        .otherwise(F.lit(0.0))
    )
    return joined.withColumn(score_name, score).drop("_q1", "_q3")


def sort_by(df: DataFrame, *cols: Column | str, desc_first: bool = False) -> DataFrame:
    """KQL ``sort by c1 [asc|desc], ...`` (alias ``order by``). KQL defaults
    to DESCENDING order per key when unspecified — pass plain column names
    with ``desc_first=True`` for that behavior, or explicit ``Column``
    expressions (``F.col("x").desc()``) for full control. Compiles to a
    range-partitioned global sort; prefer :func:`top` when a k-limit exists
    (TakeOrderedAndProject avoids the global sort entirely).
    """
    exprs = [
        (F.col(c).desc() if desc_first else F.col(c)) if isinstance(c, str) else c
        for c in cols
    ]
    return df.orderBy(*exprs)


def bag_unpack(
    df: DataFrame, col: str, schema: str, drop: bool = True
) -> DataFrame:
    """KQL ``evaluate bag_unpack(Col)`` — promote a dynamic bag's keys to
    top-level columns. KQL infers the key set from the data; Spark-first we
    take the declared ``schema`` (DDL string) so the plan stays static and
    the parse is ONE codegen'd ``from_json`` (no per-row schema discovery —
    at 100 TB inference would force an extra full scan).
    """
    others = [c for c in df.columns if not (drop and c == col)]
    return df.select(
        *others, F.from_json(F.col(col), schema).alias("_bag")
    ).select(*others, "_bag.*")


# --------------------------------------------------------------------------
# round-2 surface: conditional/positional aggregates, scan, narrow, sample,
# partition, serialized-row functions, array/bag scalars, series analytics.
# All stay declarative (window/groupBy/higher-order functions) — no Python
# row loops; the one applyInPandas entry point (partition_apply) is the
# documented escape hatch for arbitrary per-key subqueries, mirroring KQL's
# ``partition`` operator contract.
# --------------------------------------------------------------------------


def arg_max(by: Column | str, payload: Column | str) -> Column:
    """KQL ``arg_max(ExprToMaximize, PayloadExpr)`` — the payload value on
    the row where ``by`` is maximal. Spark's native ``max_by`` — a single
    map-side-combinable aggregate, no join-back or window needed (the
    classic two-pass formulation shuffles twice; this shuffles once)."""
    return F.max_by(_c(payload), _c(by))


def arg_min(by: Column | str, payload: Column | str) -> Column:
    """KQL ``arg_min`` — see :func:`arg_max`."""
    return F.min_by(_c(payload), _c(by))


def avgif(col: Column | str, cond: Column) -> Column:
    """KQL ``avgif(col, predicate)`` aggregate."""
    return F.avg(F.when(cond, _c(col)))


def minif(col: Column | str, cond: Column) -> Column:
    """KQL ``minif(col, predicate)`` aggregate."""
    return F.min(F.when(cond, _c(col)))


def maxif(col: Column | str, cond: Column) -> Column:
    """KQL ``maxif(col, predicate)`` aggregate."""
    return F.max(F.when(cond, _c(col)))


def dcountif(col: Column | str, cond: Column, exact: bool = False) -> Column:
    """KQL ``dcountif(col, predicate)`` — conditional distinct count;
    approximate (HLL++) by default like :func:`dcount`."""
    guarded = F.when(cond, _c(col))
    return F.count_distinct(guarded) if exact else F.approx_count_distinct(guarded)


def stdev(col: Column | str) -> Column:
    """KQL ``stdev`` — sample standard deviation (Kusto's default)."""
    return F.stddev_samp(_c(col))


def variance(col: Column | str) -> Column:
    """KQL ``variance`` — sample variance."""
    return F.var_samp(_c(col))


def hll(col: Column | str, precision: int = 12) -> Column:
    """KQL ``hll(col)`` — a mergeable HyperLogLog sketch as a binary column
    (Spark's Datasketches-backed ``hll_sketch_agg``). The 100 TB pattern:
    sketch per fine-grained partition, :func:`hll_merge` to roll up, never
    re-scan raw data for coarser distinct counts."""
    return F.hll_sketch_agg(_c(col), F.lit(precision))


def hll_merge(col: Column | str) -> Column:
    """KQL ``hll_merge`` — union HLL sketches (one aggregation)."""
    return F.hll_union_agg(_c(col))


def dcount_hll(col: Column | str) -> Column:
    """KQL ``dcount_hll(sketch)`` — estimate cardinality from a sketch."""
    return F.hll_sketch_estimate(_c(col))


def percentile_tdigest(
    col: Column | str, p: float, accuracy: int = 10000
) -> Column:
    """KQL ``percentile_tdigest`` family — approximate percentile with
    sketch-grade accuracy, the percentile analogue of :func:`hll`.

    Spark's ``percentile_approx`` runs the same mergeable-summary
    pattern internally (partial sketches per partition, one merge at the
    aggregate — the 100 TB rollup shape KQL's ``tdigest``/
    ``merge_tdigest`` expresses explicitly), so the KQL surface maps to
    one built-in aggregate; ``accuracy`` is the 1/error knob (10000 →
    worst-case rank error 1/10000·N). Sketch BYTES are not exposed —
    rollups re-aggregate from the same pre-partitioned input, which at
    this accuracy costs one extra pass, not a raw re-scan.
    """
    return F.percentile_approx(_c(col), F.lit(float(p)), F.lit(int(accuracy)))


def bin_at(col: Column | str, interval: str, fixed_point: str) -> Column:
    """KQL ``bin_at(value, binSize, fixedPoint)`` — bins aligned to an
    arbitrary anchor rather than the epoch. Pure timestamp arithmetic:
    anchor + floor((x - anchor) / size) * size, all codegen."""
    c = _c(col)
    anchor = F.lit(fixed_point).cast("timestamp")
    size_us = F.expr(f"INTERVAL {interval}")
    delta = c.cast("double") - anchor.cast("double")
    # interval length in seconds, computed as (epoch + interval) - epoch —
    # Spark has no extract(epoch FROM interval). Fixed-width intervals only
    # (day/hour/minute); month-sized bins aren't fixed-width anyway.
    width = F.expr(f"cast(timestamp_seconds(0) + INTERVAL {interval} as double)")
    return F.timestamp_seconds(
        anchor.cast("double") + F.floor(delta / width) * width
    )


def datetime_part(part: str, col: Column | str) -> Column:
    """KQL ``datetime_part(part, ts)`` — year/month/day/hour/minute/..."""
    return F.date_part(F.lit(part), _c(col)).cast("int")


def format_datetime(col: Column | str, fmt: str) -> Column:
    """KQL ``format_datetime(ts, 'yyyy-MM-dd HH:mm:ss')`` — Spark's
    ``date_format`` shares the yyyy/MM/dd pattern alphabet with Kusto."""
    return F.date_format(_c(col), fmt)


def dayofweek_num(col: Column | str) -> Column:
    """KQL ``dayofweek`` returns a timespan of whole days since Sunday;
    exposed here as that integer day count (0=Sunday..6=Saturday)."""
    return (F.dayofweek(_c(col)) - 1).cast("int")


def startofweek(col: Column | str) -> Column:
    """KQL ``startofweek`` — Kusto weeks start SUNDAY; date_trunc('week')
    is ISO-Monday, so truncate the day first, then step back to Sunday."""
    d = F.date_trunc("day", _c(col))
    return F.to_timestamp(F.date_sub(d, (F.dayofweek(d) - 1)))


def startofmonth(col: Column | str) -> Column:
    """KQL ``startofmonth``."""
    return F.date_trunc("month", _c(col))


def endofmonth(col: Column | str) -> Column:
    """KQL ``endofmonth`` — last instant of the month."""
    return (
        F.date_trunc("month", _c(col))
        + F.expr("INTERVAL 1 MONTH")
        - F.expr("INTERVAL 1 MICROSECOND")
    )


def indexof(col: Column | str, lookup: str) -> Column:
    """KQL ``indexof(s, lookup)`` — 0-based, -1 if absent (instr is
    1-based with 0-absent, so shift by one)."""
    return (F.instr(_c(col), lookup) - 1).cast("long")


def countof(col: Column | str, search: str) -> Column:
    """KQL ``countof(text, search)`` — non-overlapping occurrence count via
    length arithmetic (no regex engine in the hot path). An empty search
    term counts 0 (Kusto returns the string length + 1 for the degenerate
    empty needle; nobody wants that, and it used to ZeroDivisionError here)."""
    if not search:
        return F.lit(0).cast("long")
    c = _c(col)
    return (
        (F.length(c) - F.length(F.replace(c, F.lit(search), F.lit(""))))
        / F.lit(len(search))
    ).cast("long")


def reverse_str(col: Column | str) -> Column:
    """KQL ``reverse``."""
    return F.reverse(_c(col))


def trim_kql(regex: str, col: Column | str) -> Column:
    """KQL ``trim(regex, text)`` — strips the LEADING and TRAILING match of
    ``regex`` (KQL anchors it itself). One codegen'd regexp_replace."""
    return F.regexp_replace(_c(col), f"^(?:{regex})+|(?:{regex})+$", "")


def base64_encode_tostring(col: Column | str) -> Column:
    """KQL ``base64_encode_tostring``."""
    return F.base64(_c(col).cast("binary"))


def base64_decode_tostring(col: Column | str) -> Column:
    """KQL ``base64_decode_tostring``."""
    return F.unbase64(_c(col)).cast("string")


def hash_sha256(col: Column | str) -> Column:
    """KQL ``hash_sha256`` — lowercase hex, same surface as Kusto."""
    return F.sha2(_c(col).cast("string"), 256)


def hash_md5(col: Column | str) -> Column:
    """KQL ``hash_md5``."""
    return F.md5(_c(col).cast("string"))


def tohex(col: Column | str) -> Column:
    """KQL ``tohex(int)`` — lowercase hex digits."""
    return F.lower(F.hex(_c(col)))


# ---- array / bag scalars (KQL dynamic functions; all higher-order ----
# ---- functions → codegen'd, no Python)                            ----


def array_slice(col: Column | str, start: int, end: int) -> Column:
    """KQL ``array_slice(arr, start, end)`` — 0-based INCLUSIVE end
    (negatives not supported here; F.slice is 1-based with length)."""
    return F.slice(_c(col), start + 1, end - start + 1)


def array_index_of(col: Column | str, value) -> Column:
    """KQL ``array_index_of`` — 0-based, -1 when absent."""
    return (F.array_position(_c(col), value) - 1).cast("long")


def array_sum(col: Column | str) -> Column:
    """KQL ``array_sum`` — aggregate over the array elements."""
    return F.aggregate(
        _c(col), F.lit(0.0), lambda acc, x: acc + x.cast("double")
    )


def array_avg(col: Column | str) -> Column:
    """KQL ``array_avg``."""
    c = _c(col)
    return array_sum(c) / F.size(c)


def array_sort_asc(col: Column | str) -> Column:
    """KQL ``array_sort_asc``."""
    return F.array_sort(_c(col))


def array_sort_desc(col: Column | str) -> Column:
    """KQL ``array_sort_desc``."""
    return F.reverse(F.array_sort(_c(col)))


def array_rotate_left(col: Column | str, n: int) -> Column:
    """KQL ``array_rotate_left(arr, n)`` — concat of the two slices."""
    c = _c(col)
    return F.concat(F.slice(c, n + 1, F.size(c) - n), F.slice(c, 1, n))


def array_concat_kql(*cols: Column | str) -> Column:
    """KQL ``array_concat``."""
    return F.concat(*[_c(c) for c in cols])


def set_union_arr(a: Column | str, b: Column | str) -> Column:
    """KQL ``set_union(a, b)`` — distinct union, sorted for determinism
    (KQL's order is unspecified; sorting makes results oracle-stable)."""
    return F.array_sort(F.array_union(_c(a), _c(b)))


def set_intersect_arr(a: Column | str, b: Column | str) -> Column:
    """KQL ``set_intersect``."""
    return F.array_sort(F.array_intersect(_c(a), _c(b)))


def set_difference_arr(a: Column | str, b: Column | str) -> Column:
    """KQL ``set_difference``."""
    return F.array_sort(F.array_except(_c(a), _c(b)))


def pack_array(*cols: Column | str) -> Column:
    """KQL ``pack_array``."""
    return F.array(*[_c(c) for c in cols])


def bag_pack(*pairs) -> Column:
    """KQL ``bag_pack(k1, v1, k2, v2, ...)`` — a dynamic property bag.
    Emitted as a JSON string (the engine's dynamic representation), so it
    round-trips through :func:`todynamic`/:func:`bag_unpack`."""
    kvs = []
    for i in range(0, len(pairs), 2):
        k = pairs[i]
        kvs.append(F.lit(k) if isinstance(k, str) else k)
        kvs.append(_c(pairs[i + 1]))
    return F.to_json(F.create_map(*kvs))


def zip_arrays(a: Column | str, b: Column | str) -> Column:
    """KQL ``zip(a, b)`` — pairwise array of 2-element arrays."""
    return F.zip_with(
        _c(a), _c(b), lambda x, y: F.array(x.cast("string"), y.cast("string"))
    )


# ---- serialized-row functions (KQL serialize / row_number / prev / ----
# ---- next / row_cumsum) and the scan operator                      ----


def serialize_rows(
    df: DataFrame,
    order: Sequence[Column | str],
    by: Sequence[str] = (),
    row_name: str = "row_number",
) -> DataFrame:
    """KQL ``serialize | extend row_number()`` — pins an explicit row order
    and numbers rows 1..n (per ``by`` key if given).

    Scale note: with no ``by`` this is a single-reducer window (Spark warns
    "No Partition Defined") — exactly like KQL, where serialize of an
    unpartitioned table is inherently sequential. Always pass ``by`` at
    scale; the unkeyed form exists for small ordered outputs.
    """
    cols = [_c(c) for c in order]
    w = (Window.partitionBy(*by) if by else Window.partitionBy()).orderBy(*cols)
    return df.withColumn(row_name, F.row_number().over(w))


def prev_next(
    df: DataFrame,
    col: Column | str,
    order: Sequence[Column | str],
    by: Sequence[str] = (),
    offset: int = 1,
    prev_name: str = "prev_value",
    next_name: str = "next_value",
) -> DataFrame:
    """KQL ``prev(col)`` / ``next(col)`` over a serialized order — lag/lead
    in one window pass (both functions share the frame, one shuffle)."""
    cols = [_c(c) for c in order]
    w = (Window.partitionBy(*by) if by else Window.partitionBy()).orderBy(*cols)
    c = _c(col)
    return df.withColumn(prev_name, F.lag(c, offset).over(w)).withColumn(
        next_name, F.lead(c, offset).over(w)
    )


def row_cumsum(
    df: DataFrame,
    col: Column | str,
    order: Sequence[Column | str],
    by: Sequence[str] = (),
    restart: Column | None = None,
    out_name: str = "cumsum",
) -> DataFrame:
    """KQL ``row_cumsum(col[, restart])`` — running sum in serialized order,
    resetting where ``restart`` is true.

    The reset is expressed WITHOUT a self-join or Python state: a first
    window pass turns the restart flags into a segment id (their running
    sum), a second sums within (keys, segment). Two windows over the SAME
    partitioning → one shuffle, second pass reuses the exchange.
    """
    cols = [_c(c) for c in order]
    w = (Window.partitionBy(*by) if by else Window.partitionBy()).orderBy(*cols)
    if restart is None:
        return df.withColumn(
            out_name,
            F.sum(_c(col)).over(w.rowsBetween(Window.unboundedPreceding, 0)),
        )
    seg = F.sum(F.when(restart, 1).otherwise(0)).over(
        w.rowsBetween(Window.unboundedPreceding, 0)
    )
    with_seg = df.withColumn("_kpf_seg", seg)
    w2 = (
        Window.partitionBy(*([*by, "_kpf_seg"])).orderBy(*cols)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return with_seg.withColumn(out_name, F.sum(_c(col)).over(w2)).drop("_kpf_seg")


def rows_near(
    df: DataFrame,
    condition: Column,
    order: Sequence[Column | str],
    by: Sequence[str] = (),
    before: int = 1,
    after: int | None = None,
) -> DataFrame:
    """KQL ``rows_near(Condition, NumRows[, RowsAfter])`` — keep every row
    within ``before`` rows before / ``after`` rows after (default: same as
    ``before``) a row matching ``condition``, in the serialized order.
    The standard "show me context around the error line" operator.

    One window pass: a row is kept iff ``max(match)`` over the frame
    [-after, +before] is 1 (a match at j covers j−before .. j+after, so
    row i looks back ``after`` and forward ``before``). Same scale
    contract as ``serialize_rows``: pass ``by`` to partition the window;
    the unkeyed form is the inherently-sequential KQL serialize."""
    a = before if after is None else after
    cols = [_c(c) for c in order]
    w = (Window.partitionBy(*by) if by else Window.partitionBy()).orderBy(*cols)
    match = F.when(condition, 1).otherwise(0)
    keep = F.max(match).over(w.rowsBetween(-a, before)) == 1
    # window functions can't sit in a WHERE clause — project then filter
    return df.withColumn("_kpf_keep", keep).filter(F.col("_kpf_keep")).drop(
        "_kpf_keep"
    )


def scan_accumulate(
    df: DataFrame,
    by: Sequence[str],
    order: Sequence[Column | str],
    value: Column | str,
    restart: Column,
    out_name: str = "scan_sum",
    step_name: str = "scan_step",
) -> DataFrame:
    """KQL ``scan`` (single-step accumulate profile): per key, walk rows in
    order keeping a running aggregate that restarts whenever ``restart``
    fires — the canonical ``scan declare (s:long) with (step S: true =>
    s + x;)`` shape used for funnel/session accumulation.

    Same segment-id trick as :func:`row_cumsum` (KQL's scan is sequential
    per key; the two-window form is the shuffle-minimal distributed
    equivalent). ``step_name`` numbers the rows within each scan segment —
    the ``match_id()``-style output. Arbitrary multi-step scans with
    cross-step predicates need per-key sequential logic: route those
    through :func:`partition_apply`.

    ``by=[]`` is the GLOBAL scan (KQL's own sequence model). A naive
    unpartitioned window would serialize the corpus through one reducer;
    instead the global form is the classic two-phase distributed prefix
    sum (the split.py shard-assignment pattern): range-repartition by
    the order keys (pins the global order across partitions),
    ``plans/split.py:prefix_bases`` over the three per-partition
    subtotals (value, restart flags, row count — its single-partition
    window sees #partitions rows) broadcasts each partition its bases,
    one per-partition window adds the three running totals in parallel,
    then a per-segment min-join rebases the running sum at each restart.
    Every full-data exchange is range/hash — never SinglePartition. The
    repartitioned frame and the windowed frame are PINNED
    (:func:`materialize` — the fork convention): each has multiple
    consumers, and without the pin the scan + range exchange replay
    once per consumer (measured: 4 scans at sf0.01). Integer and
    decimal accumulators are exact; float accumulators can differ
    from a sequential walk in the last ulp (the rebase is a difference
    of global prefix sums, a reassociation).
    """
    cols = [_c(c) for c in order]
    if not by:
        from kusto_pre_forge_spark.plans.split import prefix_bases

        t = df.repartitionByRange(*cols).withColumn(
            "_kpf_pid", F.spark_partition_id()
        )
        t = materialize(t.withColumns({
            "_kpf_v": _c(value),
            "_kpf_f": F.when(restart, 1).otherwise(0),
        }))
        t = prefix_bases(t, "_kpf_pid", {
            "_kpf_bv": F.sum("_kpf_v"),
            "_kpf_bf": F.sum("_kpf_f"),
            "_kpf_bn": F.count(F.lit(1)),
        })
        w_in = Window.partitionBy("_kpf_pid").orderBy(*cols).rowsBetween(
            Window.unboundedPreceding, 0
        )
        t = materialize(t.select(
            *df.columns,
            "_kpf_v",
            (F.col("_kpf_bv") + F.sum("_kpf_v").over(w_in)).alias("_kpf_g"),
            (F.col("_kpf_bf") + F.sum("_kpf_f").over(w_in))
            .cast("long").alias("scan_match_id"),
            (F.col("_kpf_bn") + F.row_number().over(w_in)).alias("_kpf_rn"),
        ))
        # the rebase is the EXCLUSIVE prefix at the segment's FIRST row
        # (min over _kpf_rn), not min over the prefix values themselves:
        # with negative accumulated values (scan over deltas) the minimum
        # prefix can occur mid-segment and would shift every running sum.
        seg = t.groupBy("scan_match_id").agg(
            F.min_by(F.col("_kpf_g") - F.col("_kpf_v"), F.col("_kpf_rn")).alias(
                "_kpf_gbase"
            ),
            F.min("_kpf_rn").alias("_kpf_rbase"),
        )
        return t.join(seg, "scan_match_id").select(
            *df.columns,
            (F.col("_kpf_g") - F.col("_kpf_gbase")).alias(out_name),
            (F.col("_kpf_rn") - F.col("_kpf_rbase") + 1)
            .cast("int").alias(step_name),
            "scan_match_id",
        )
    w = Window.partitionBy(*by).orderBy(*cols).rowsBetween(
        Window.unboundedPreceding, 0
    )
    seg = F.sum(F.when(restart, 1).otherwise(0)).over(w)
    with_seg = df.withColumn("_kpf_seg", seg)
    w2 = Window.partitionBy(*([*by, "_kpf_seg"])).orderBy(*cols)
    return (
        with_seg.withColumn(
            out_name,
            F.sum(_c(value)).over(w2.rowsBetween(Window.unboundedPreceding, 0)),
        )
        .withColumn(step_name, F.row_number().over(w2))
        .withColumnRenamed("_kpf_seg", "scan_match_id")
    )


def scan_steps_walk(
    records,
    steps: Sequence[tuple],
    defaults: dict,
    states: list,
    mids: list,
    next_mid: int,
    emit,
) -> int:
    """The shared sequential walker behind :func:`scan_steps` (batch)
    and ``streaming.windows.streaming_scan_steps`` (state carried
    across micro-batches): mutates ``states``/``mids`` in place, calls
    ``emit(rec, new_state, match_id, step_name)`` for every captured
    record, returns the advanced ``next_mid``. Semantics exactly per
    :func:`scan_steps`'s docstring — one walker, zero drift between
    the batch and streaming tiers."""
    n = len(steps)
    for rec in records:
        for k in range(n - 1, -1, -1):
            name_k, cond_k, assigns_k = steps[k][:3]
            emit_k = steps[k][3] if len(steps[k]) > 3 else True
            if (
                (k > 0 or n == 1)
                and states[k] is not None
                and cond_k({**rec, **states[k]})
            ):
                st, mid = states[k], mids[k]
            elif (
                k > 0
                and states[k - 1] is not None
                and cond_k({**rec, **states[k - 1]})
            ):
                st, mid = states[k - 1], mids[k - 1]
                states[k - 1] = None
                mids[k - 1] = None
            elif k == 0 and cond_k({**rec, **defaults}):
                st, mid = dict(defaults), next_mid
                next_mid += 1
            else:
                continue
            env = {**rec, **st}
            newst = dict(st)
            for var, fn in assigns_k:
                newst[var] = fn(env)
            states[k], mids[k] = newst, mid
            if emit_k:
                emit(rec, newst, mid, name_k)
            break
    return next_mid


def scan_steps(
    df: DataFrame,
    order: Sequence[str],
    steps: Sequence[tuple],
    declare: "dict[str, tuple]",
    by: Sequence[str] = (),
    match_name: str = "match_id",
    step_name: str = "step",
) -> DataFrame:
    """KQL ``scan`` — the GENERAL bounded multi-step state machine the
    window profiles (:func:`scan_accumulate`) can't express: session
    labeling, multi-state funnels, scans whose step conditions read the
    accumulated state.

    ``steps`` is ``[(name, cond, assigns[, emit]), …]`` where ``cond``
    is a Python callable ``env → bool`` and ``assigns`` is ``[(var,
    env → value), …]``; ``env`` maps column names AND state variables
    to the current row's/instance's values; ``emit=False`` is ADX's
    per-step ``output=none`` (the step still captures and advances
    state, but its records are suppressed — the mute-intermediate-steps
    funnel form). ``declare`` maps each state variable to ``(default,
    spark_type_ddl)``.

    Sequence semantics (the engine's documented contract, modeled on
    ADX's scan): records walk in ``order``; per record, steps scan
    LAST → FIRST; the record is captured by the first step k whose
    condition holds under (in preference order) the active instance AT
    step k (the sequence absorbs another record — NON-first steps
    only), else the instance at step k−1 (the sequence advances — the
    k−1 instance is promoted, i.e. removed from k−1), else — for the
    FIRST step only — the declared defaults (a NEW sequence starts,
    replacing any instance at step 1, with a fresh ``match_id``). The
    first step never extends its own instance IN MULTI-STEP scans: a
    first-step match IS a new sequence, which is what makes match ids
    delimit sessions. SINGLE-step scans are the opposite contract —
    ADX's canonical cumulative form (``step s1: true => c = x + s1.c``)
    extends its one instance on every match — so with exactly one step
    the instance at step 0 extends (preferred over restarting).
    Assignments see the pre-update state (``s = s + x`` accumulates).
    A record captured by no step is not emitted (Kusto's rule). Each
    step holds at most one active instance.

    Scale: with ``by`` the machine runs per key via ``applyInPandas``
    (one hash exchange; each key's rows must fit one task — the
    :func:`partition_apply` contract). ``by=()`` is the inherently
    sequential GLOBAL scan: ONE task walks the whole input (a constant
    grouping key, so the plan stays a hash exchange, but the size
    posture is explicit: bound the input first, or key the scan). The
    window-expressible accumulate/restart profiles should use
    :func:`scan_accumulate` — this executor exists for the shapes they
    refuse."""
    import pandas as pd

    in_cols = list(df.columns)
    var_names = list(declare)
    defaults = {v: declare[v][0] for v in var_names}
    out_schema = ", ".join(
        [f"`{f.name}` {f.dataType.simpleString()}" for f in df.schema.fields]
        + [f"`{v}` {declare[v][1]}" for v in var_names]
        + [f"`{match_name}` long", f"`{step_name}` string"]
    )
    n = len(steps)
    # order entries: "col" (ascending), ("col", asc) or
    # ("col", asc, nulls) with nulls in (None, "first", "last").
    # The replay must match the SPARK serialize order the window tier
    # uses: Spark asc is NULLS FIRST, desc NULLS LAST (unless the sort
    # carried an explicit qualifier) — pandas defaults to na-last for
    # both, so each key sorts in its own stable pass with the right
    # na_position (mergesort keeps earlier keys' order).
    def _spec(o):
        if isinstance(o, str):
            return (o, True, None)
        return (o[0], bool(o[1]), o[2] if len(o) > 2 else None)

    order_spec = [_spec(o) for o in order]
    key_cols = list(by)

    def _replay_order(pdf: "pd.DataFrame") -> "pd.DataFrame":
        for name, asc, nulls in reversed(order_spec):
            na = nulls or ("first" if asc else "last")
            pdf = pdf.sort_values(
                name, ascending=asc, kind="mergesort", na_position=na
            )
        return pdf

    def machine(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = _replay_order(pdf)
        states: list = [None] * n
        mids: list = [None] * n
        out: list[dict] = []

        def emit(rec, newst, mid, name_k):
            out.append(
                {
                    **{c: rec[c] for c in in_cols},
                    **newst,
                    match_name: mid,
                    step_name: name_k,
                }
            )

        # itertuples + zip is ~3× faster than to_dict("records") on wide
        # frames and streams rows instead of materializing 100k dicts;
        # values are the same objects pandas would put in record dicts
        cols_in = list(pdf.columns)
        records = (
            dict(zip(cols_in, row))
            for row in pdf.itertuples(index=False, name=None)
        )
        scan_steps_walk(records, steps, defaults, states, mids, 0, emit)
        cols = in_cols + var_names + [match_name, step_name]
        return pd.DataFrame(out, columns=cols)

    if key_cols:
        return df.groupBy(*key_cols).applyInPandas(machine, out_schema)
    return df.groupBy(F.lit(0).alias("_kpf_g")).applyInPandas(
        lambda pdf: machine(pdf.drop(columns=["_kpf_g"], errors="ignore")),
        out_schema,
    )


def narrow(
    df: DataFrame,
    ids: Sequence[str],
    value_cols: Sequence[str],
    var_name: str = "Column",
    value_name: str = "Value",
) -> DataFrame:
    """KQL ``evaluate narrow()`` — unpivot every non-id column to
    (Column, Value) rows. Spark's native ``unpivot`` (a generate, no
    shuffle); values are cast to string like narrow's dynamic output."""
    casted = df.select(
        *ids, *[F.col(c).cast("string").alias(c) for c in value_cols]
    )
    return casted.unpivot(list(ids), list(value_cols), var_name, value_name)


def sample_deterministic(
    df: DataFrame, key: Column | str, fraction: float, salt: str = "kpf"
) -> DataFrame:
    """KQL ``sample n`` is nondeterministic; at 100 TB a REPRODUCIBLE sample
    is what a pipeline actually wants (re-runs must pick the same rows, and
    an oracle must be able to replay the choice). Hash-threshold sampling:
    keep rows whose salted md5(key) falls under ``fraction`` of the 32-bit
    space. Pure codegen, no shuffle, stable under retries and engine
    versions — unlike rand(), which Spark may re-evaluate per task attempt.
    """
    bucket = F.conv(
        F.substring(F.md5(F.concat_ws("|", F.lit(salt), _c(key).cast("string"))), 1, 8),
        16,
        10,
    ).cast("long")
    return df.where(bucket < F.lit(int(fraction * 0xFFFFFFFF)))


def partition_apply(df: DataFrame, by: str, fn, schema: str) -> DataFrame:
    """KQL ``partition by Col ( subquery )`` — run an arbitrary per-key
    subquery. ``fn`` is a pandas DataFrame → pandas DataFrame function
    applied per key group via ``applyInPandas`` (Arrow-batched, one
    shuffle on the key).

    This is the documented escape hatch for subqueries Catalyst can't
    express (multi-step scans, per-key model fits). Anything expressible
    as window/agg should NOT come here — the native form fuses into the
    surrounding plan and skips Python entirely. Keys must each fit in one
    task's memory (same contract as KQL's 64-partition limit, scaled).
    """
    return df.groupBy(by).applyInPandas(fn, schema)


def pivot_kql(
    df: DataFrame,
    pivot_col: str,
    agg_col: str,
    agg: str = "sum",
    group_cols: list[str] | None = None,
    values: list | None = None,
    max_values: int = 1000,
) -> DataFrame:
    """KQL ``evaluate pivot(pivotColumn, agg(aggColumn), group-by…)`` —
    distinct pivot values become columns.

    Spark-first: ``groupBy().pivot()`` — Catalyst rewrites it into ONE
    aggregate with a conditional expression per pivot value (no join, no
    second pass). ``values=None`` collects the distinct pivot values
    first (bounded: it is the output WIDTH, and pivot is only sane for
    low-cardinality columns) and sorts them so the column order is
    deterministic — KQL's own column order is also value-sorted. Missing
    combinations are NULL, matching KQL.

    ``max_values`` is the width valve: the distinct-collect is correct
    by convention (it IS the output width) but a miskeyed call on a
    high-cardinality column (user_id…) would OOM the driver — probe with
    ``limit(n+1)`` and raise a clear error over the cap instead (the
    same bounded-collect pattern as the shard-manifest cap).
    """
    if values is None:
        # NULL filtered BEFORE the cap probe: NULL never becomes a column,
        # so it must not count toward the width limit
        probe = [
            r[0]
            for r in df.select(pivot_col)
            .where(F.col(pivot_col).isNotNull())
            .distinct()
            .limit(max_values + 1)
            .collect()
        ]
        if len(probe) > max_values:
            raise ValueError(
                f"pivot_kql: over {max_values} distinct values in "
                f"{pivot_col!r} — pivot output would be that wide; pass an "
                f"explicit `values` list or raise `max_values` if intended"
            )
        values = sorted(probe)
    agg_fn = getattr(F, agg)(agg_col)
    return df.groupBy(*(group_cols or [])).pivot(pivot_col, values).agg(agg_fn)


def facet_by(df: DataFrame, *cols: str, with_df: DataFrame | None = None) -> dict:
    """KQL ``facet by c1, c2 [with (subquery)]`` — one value-count table per
    column plus the optional ``with`` table. Returns {name: DataFrame};
    each facet is an independent lazy plan over the SAME scan (Spark reuses
    the cached/exchange stage when the action runs them together)."""
    out: dict[str, DataFrame] = {}
    if with_df is not None:
        out["with"] = with_df
    for c in cols:
        out[c] = df.groupBy(c).agg(F.count(F.lit(1)).alias("count_")).orderBy(
            F.col("count_").desc(), F.col(c)
        )
    return out


def externaldata(
    spark: SparkSession, schema: str, path: str, fmt: str = "csv", **options
) -> DataFrame:
    """KQL ``externaldata (schema) [uri] with (format=...)`` — ad-hoc typed
    read of external files. Spark-first this is just a schema'd reader —
    pushdown/pruning apply as with any source."""
    reader = spark.read.schema(schema)
    if fmt == "csv":
        reader = reader.options(header="false", **options)
    return reader.format(fmt).load(path)


# ---- series analytics over make-series arrays (higher-order functions, ----
# ---- no explode round-trip, no Python)                                 ----


def series_stats(
    df: DataFrame, value_col: str, prefix: str = "series"
) -> DataFrame:
    """KQL ``series_stats(arr)`` — min/max (+ positions), avg, stdev, sum
    per series row. All from ONE pass of higher-order functions over the
    packed array — the series never explodes back to rows.
    """
    c = F.col(value_col)
    n = F.size(c)
    s_sum = F.aggregate(c, F.lit(0.0), lambda a, x: a + x.cast("double"))
    s_avg = s_sum / n
    sq = F.aggregate(
        c, F.lit(0.0), lambda a, x: a + x.cast("double") * x.cast("double")
    )
    # sample variance: (Σx² - n·μ²) / (n-1)
    s_var = F.when(n > 1, (sq - n * s_avg * s_avg) / (n - 1)).otherwise(F.lit(0.0))
    s_min, s_max = F.array_min(c), F.array_max(c)
    return (
        df.withColumn(f"{prefix}_min", s_min.cast("double"))
        .withColumn(f"{prefix}_max", s_max.cast("double"))
        .withColumn(
            f"{prefix}_min_idx",
            (F.array_position(c, s_min) - 1).cast("long"),
        )
        .withColumn(
            f"{prefix}_max_idx",
            (F.array_position(c, s_max) - 1).cast("long"),
        )
        .withColumn(f"{prefix}_avg", s_avg)
        .withColumn(f"{prefix}_stdev", F.sqrt(s_var))
        .withColumn(f"{prefix}_sum", s_sum)
    )


def series_moving_avg(col: Column | str, window: int, center: bool = False) -> Column:
    """KQL ``series_moving_avg_fl`` / FIR with uniform taps — trailing
    (or centered) moving average over a packed series array. Expressed as a
    transform over indices + slice + aggregate: stays codegen'd; each
    element averages its trailing ``window`` values (shorter head windows
    use what exists, matching the fl library's edge behavior)."""
    c = _c(col)
    half = window // 2 if center else 0

    def _avg(x: Column, i: Column) -> Column:
        # realized window: [start, end] clamped to the array bounds; the
        # divisor is the REALIZED length (end - start + 1) — dividing by
        # the nominal window counted positions past the array tail and
        # deflated centered averages near the end
        start = F.greatest(i + 1 - (window - 1) + half, F.lit(1))
        end = F.least(i + 1 + half, F.size(c))
        n = end - start + 1
        return (
            F.aggregate(
                F.slice(c, start, n),
                F.lit(0.0),
                lambda a, x2: a + x2.cast("double"),
            )
            / n.cast("double")
        )

    return F.transform(c, _avg)


def series_pearson_correlation(a: Column | str, b: Column | str) -> Column:
    """KQL ``series_pearson_correlation(s1, s2)`` — correlation of two
    aligned series arrays, computed from the five moment sums in one
    higher-order pass per array (no explode, no UDF)."""
    ca, cb = _c(a), _c(b)
    n = F.size(ca).cast("double")
    sum_ = lambda c: F.aggregate(c, F.lit(0.0), lambda acc, x: acc + x.cast("double"))  # noqa: E731
    sa, sb = sum_(ca), sum_(cb)
    saa = F.aggregate(ca, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double"))
    sbb = F.aggregate(cb, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double"))
    sab = F.aggregate(
        F.zip_with(ca, cb, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    cov = sab - sa * sb / n
    va = saa - sa * sa / n
    vb = sbb - sb * sb / n
    return cov / F.sqrt(va * vb)


# ---- predicate scalars (KQL where-clause operators) ----


def has_any(col: Column | str, *terms: str) -> Column:
    """KQL ``x has_any (t1, t2, ...)`` — true when ANY whole term matches.
    Zero terms → false (nothing can match an empty disjunction)."""
    if not terms:
        return F.lit(False)
    out = has_term(col, terms[0])
    for t in terms[1:]:
        out = out | has_term(col, t)
    return out


def has_all(col: Column | str, *terms: str) -> Column:
    """KQL ``x has_all (t1, t2, ...)`` — true when EVERY whole term matches.
    Zero terms → true (vacuous conjunction)."""
    if not terms:
        return F.lit(True)
    out = has_term(col, terms[0])
    for t in terms[1:]:
        out = out & has_term(col, t)
    return out


def startswith(col: Column | str, prefix: str, case_sensitive: bool = False) -> Column:
    """KQL ``startswith`` (case-insensitive by default, like Kusto;
    ``startswith_cs`` ≡ case_sensitive=True)."""
    c = _c(col)
    if case_sensitive:
        return c.startswith(prefix)
    return F.lower(c).startswith(prefix.lower())


def endswith(col: Column | str, suffix: str, case_sensitive: bool = False) -> Column:
    """KQL ``endswith`` / ``endswith_cs``."""
    c = _c(col)
    if case_sensitive:
        return c.endswith(suffix)
    return F.lower(c).endswith(suffix.lower())


def matches_regex(col: Column | str, pattern: str) -> Column:
    """KQL ``matches regex`` — RE2-compatible patterns recommended so the
    same pattern replays in any oracle engine."""
    return _c(col).rlike(pattern)


def in_ci(col: Column | str, *values: str) -> Column:
    """KQL ``x in~ (v1, v2, ...)`` — case-insensitive membership."""
    return F.lower(_c(col)).isin(*[v.lower() for v in values])


def between(col: Column | str, lo, hi) -> Column:
    """KQL ``x between (lo .. hi)`` — inclusive both ends."""
    c = _c(col)
    return (c >= lo) & (c <= hi)


def union_withsource(named: Mapping[str, DataFrame], source_name: str = "source_") -> DataFrame:
    """KQL ``union withsource=Col T1, T2`` — union_tables plus the
    originating-table name column (narrow concatenation, zero shuffle)."""
    tagged = [
        df.withColumn(source_name, F.lit(name)) for name, df in named.items()
    ]
    return union_tables(*tagged)


# ---- project family / search / find / sampling variants ----


def project_away(df: DataFrame, *cols: str) -> DataFrame:
    """KQL ``project-away c1, c2`` — drop columns, keep the rest in order."""
    return df.drop(*cols)


def project_keep(df: DataFrame, *cols: str) -> DataFrame:
    """KQL ``project-keep`` — keep listed columns in ORIGINAL table order
    (unlike ``project``, which reorders to the listed order)."""
    keep = set(cols)
    return df.select(*[c for c in df.columns if c in keep])


def project_rename(df: DataFrame, **renames: str) -> DataFrame:
    """KQL ``project-rename new = old`` — rename without reordering."""
    out = df
    for new, old in renames.items():
        out = out.withColumnRenamed(old, new)
    return out


def project_reorder(df: DataFrame, *first: str) -> DataFrame:
    """KQL ``project-reorder c1, c2`` — listed columns first, the rest
    keep their original order after them."""
    rest = [c for c in df.columns if c not in set(first)]
    return df.select(*first, *rest)


def search_tables(
    named: Mapping[str, DataFrame], term: str, source_name: str = "source_"
) -> DataFrame:
    """KQL ``search in (T1, T2) "term"`` — case-insensitive substring match
    over EVERY string column of every table; emits matching rows as
    (source_, matched JSON) so heterogeneous schemas union cleanly.

    Per table this is one codegen'd OR-chain over its string columns —
    predicate pushdown still applies to each scan; no cross-table shuffle
    (the union is a narrow concat). The JSON projection mirrors KQL's
    pack_all() result shape for search.
    """
    if not named:
        raise ValueError("search_tables needs at least one table")
    low = term.lower()
    parts = []
    for name, df in named.items():
        str_cols = [c for c, t in df.dtypes if t == "string"]
        if not str_cols:
            continue
        pred = F.lower(F.col(str_cols[0])).contains(low)
        for c in str_cols[1:]:
            pred = pred | F.lower(F.col(c)).contains(low)
        parts.append(
            df.filter(pred).select(
                F.lit(name).alias(source_name),
                F.to_json(F.struct(*df.columns)).alias("row_json"),
            )
        )
    if not parts:
        # no table has a string column: a valid search with zero hits,
        # not an error — emit an empty frame in the output schema
        spark = next(iter(named.values())).sparkSession
        return spark.createDataFrame(
            [], f"{source_name} string, row_json string"
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def sample_distinct(
    df: DataFrame, key: Column | str, n: int, salt: str = "kpf"
) -> DataFrame:
    """KQL ``sample-distinct n of Key`` — n distinct key values. KQL's pick
    is arbitrary; ours is the n smallest salted-md5 hashes, making the
    sample REPRODUCIBLE and oracle-replayable (same rationale as
    :func:`sample_deterministic`). distinct → TakeOrdered: no global sort,
    each task keeps an n-heap.
    """
    return (
        df.select(_c(key).alias("key"))
        .distinct()
        .withColumn(
            "_h", F.md5(F.concat_ws("|", F.lit(salt), F.col("key").cast("string")))
        )
        .orderBy("_h", "key")
        .limit(n)
        .drop("_h")
    )


def find_in(
    tables: "Mapping[str, DataFrame] | Sequence[tuple[str, DataFrame]]",
    term: str | None = None,
    predicate: Column | None = None,
    project: "Sequence[str] | None" = None,
    source_col: str = "source_",
) -> DataFrame:
    """KQL ``find in (T1, T2, …) where * contains term [project …]`` —
    the cross-table search operator. The reference emits per-table KQL and
    lets Kusto fan the search out (`code/KustoPreForgeLib/` delegates all
    querying); here each table gets its own scan-local predicate — ``term``
    becomes a case-insensitive substring test OVER THAT TABLE'S OWN string
    columns (KQL's ``*`` wildcard), or pass an explicit ``predicate``
    Column applied to every table — and the matches union by name with a
    ``source_`` tag, null-padding columns a table lacks (KQL's schema
    union). ``project`` limits output to the named columns IN THAT ORDER
    — a table lacking one contributes nulls for it (KQL's null-padding),
    so the output schema is identical across tables.

    Scale: the per-table filter sits directly over each scan (predicate
    pushdown / column pruning apply per source); the union is plan-level
    only — no shuffle is introduced at any size.
    """
    if (term is None) == (predicate is None):
        raise ValueError("exactly one of term / predicate is required")
    # accept (name, df) pairs so repeated display names (``find in
    # (T, T | where …)``) keep BOTH operands — a name-keyed dict would
    # silently drop all but the last same-named source.
    items = list(tables.items()) if hasattr(tables, "items") else list(tables)
    if not items:
        raise ValueError("find_in requires at least one table")
    parts = []
    for name, df in items:
        if term is not None:
            strcols = [c for c, t in df.dtypes if t == "string"]
            pred = F.lit(False)
            for c in strcols:
                pred = pred | F.contains(F.lower(F.col(c)), F.lit(term.lower()))
        else:
            pred = predicate
        if project is not None:
            cols = [
                F.col(c) if c in df.columns else F.lit(None).alias(c)
                for c in project
            ]
        else:
            cols = [F.col(c) for c in df.columns]
        parts.append(
            df.filter(pred).select(F.lit(name).alias(source_col), *cols)
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p, allowMissingColumns=True)
    return out


def reduce_by(
    df: DataFrame,
    col: Column | str,
    count_name: str = "Count",
    pattern_name: str = "Pattern",
    rep_name: str = "Representative",
) -> DataFrame:
    """KQL ``reduce by Col`` — cluster strings into patterns by masking the
    variable parts. Kusto's implementation is a proprietary similarity
    heuristic; this engine defines the pattern DETERMINISTICALLY (so runs
    and oracles agree): digit runs, hex runs (≥8), and guids collapse to
    ``*``. Output is (Pattern, Count, Representative=min example) — one
    codegen projection + one aggregation, the log-clustering workhorse.
    """
    c = _c(col)
    masked = F.regexp_replace(
        c,
        "[0-9a-fA-F]{8}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{12}",
        "*",
    )
    masked = F.regexp_replace(masked, "[0-9a-fA-F]{8,}", "*")
    masked = F.regexp_replace(masked, "[0-9]+", "*")
    return (
        df.select(c.alias("_v"), masked.alias(pattern_name))
        .groupBy(pattern_name)
        .agg(
            F.count(F.lit(1)).alias(count_name),
            F.min("_v").alias(rep_name),
        )
    )


def make_bag_sorted(k: Column | str, v: Column | str) -> Column:
    """KQL ``make_bag(bag_pack(k, v))`` aggregate — merge per-row pairs
    into one JSON property bag. Keys are emitted SORTED (KQL's merge order
    is unspecified; sorting makes the result deterministic and
    oracle-replayable). Duplicate keys keep the smallest (k, v) pair, à la
    take_any. Pure codegen: collect_set → array_sort → concat.
    """
    pair = F.struct(_c(k).cast("string").alias("k"), _c(v).cast("string").alias("v"))
    entries = F.array_sort(F.collect_set(pair))
    # drop duplicate keys, keeping the first (smallest v) after the sort;
    # try_element_at is null on the empty accumulator → the null-safe
    # comparison is false → first entry always appends
    def _dedup_keys(acc, e):
        return F.when(
            F.try_element_at(acc, F.lit(-1))["k"].eqNullSafe(e["k"]),
            acc,
        ).otherwise(F.concat(acc, F.array(e)))

    deduped = F.aggregate(
        entries,
        F.array().cast("array<struct<k:string,v:string>>"),
        _dedup_keys,
    )
    # to_json escapes quotes/backslashes/control chars properly (hand
    # concatenation between quote literals produced invalid JSON for any
    # key or value containing " or \); map_from_entries keeps the sorted
    # entry order, so output is still deterministic
    return F.to_json(F.map_from_entries(deduped))


# ---- round-4 additions: IPv4 scalars, URL scalars, packed-series fills ----
# (binary_all_and/or/xor live with the other aggregates further down —
# exactly one definition each; a shadowed earlier trio was removed.)


def parse_ipv4(col: Column | str) -> Column:
    """KQL ``parse_ipv4`` — dotted-quad string → numeric (long); null for
    malformed input. Pure codegen split + shift arithmetic."""
    c = _c(col)
    parts = F.split(c, r"\.")
    ok = (F.size(parts) == 4) & F.forall(
        parts, lambda p: p.rlike("^[0-9]{1,3}$") & (p.cast("long") <= 255)
    )
    val = (
        parts[0].cast("long") * 16777216
        + parts[1].cast("long") * 65536
        + parts[2].cast("long") * 256
        + parts[3].cast("long")
    )
    return F.when(ok, val).otherwise(F.lit(None).cast("long"))


def format_ipv4(col: Column | str) -> Column:
    """KQL ``format_ipv4`` — numeric → dotted-quad string."""
    c = _c(col).cast("long")
    return F.concat_ws(
        ".",
        F.floor(c / 16777216) % 256,
        F.floor(c / 65536) % 256,
        F.floor(c / 256) % 256,
        c % 256,
    )


def ipv4_is_in_range(col: Column | str, cidr: str) -> Column:
    """KQL ``ipv4_is_in_range(ip, 'a.b.c.d/p')`` — CIDR membership. The
    block bounds are Python-side constants, so the test compiles to two
    long comparisons; null (not false) for unparseable input, like KQL."""
    base, _, bits = cidr.partition("/")
    p = int(bits) if bits else 32
    quads = [int(x) for x in base.split(".")]
    base_num = (quads[0] << 24) | (quads[1] << 16) | (quads[2] << 8) | quads[3]
    span = (1 << (32 - p)) - 1 if p < 32 else 0
    lo = base_num & ~span & 0xFFFFFFFF
    hi = lo | span
    v = parse_ipv4(col)
    return F.when(v.isNull(), F.lit(None).cast("boolean")).otherwise(
        (v >= lo) & (v <= hi)
    )


def ipv4_is_private(col: Column | str) -> Column:
    """KQL ``ipv4_is_private`` — RFC-1918 membership (10/8, 172.16/12,
    192.168/16); null for unparseable input."""
    out = F.lit(False)
    for block in ("10.0.0.0/8", "172.16.0.0/12", "192.168.0.0/16"):
        out = out | ipv4_is_in_range(col, block)
    v = parse_ipv4(col)
    return F.when(v.isNull(), F.lit(None).cast("boolean")).otherwise(out)


def ipv4_compare(a: Column | str, b: Column | str) -> Column:
    """KQL ``ipv4_compare(ip1, ip2)`` — −1/0/1 on the numeric values,
    null when either side is unparseable."""
    va, vb = parse_ipv4(a), parse_ipv4(b)
    cmp = F.when(va < vb, -1).when(va > vb, 1).otherwise(0)
    return F.when(va.isNull() | vb.isNull(), F.lit(None).cast("int")).otherwise(
        cmp.cast("int")
    )


def ipv4_is_match(a: Column | str, b: Column | str, prefix: int = 32) -> Column:
    """KQL ``ipv4_is_match(ip1, ip2, prefix)`` — true when both addresses
    share the leading ``prefix`` bits. Compiled to one shift-compare (the
    mask is a Python-side constant); null if either side is unparseable."""
    if not 0 <= prefix <= 32:
        raise ValueError("prefix must be in [0, 32]")
    va, vb = parse_ipv4(a), parse_ipv4(b)
    shift = 32 - prefix
    same = F.floor(va / F.lit(1 << shift)) == F.floor(vb / F.lit(1 << shift)) if shift else va == vb
    return F.when(va.isNull() | vb.isNull(), F.lit(None).cast("boolean")).otherwise(
        same
    )


def ipv4_netmask_suffix(col: Column | str) -> Column:
    """KQL ``ipv4_netmask_suffix('a.b.c.d/nn')`` — the prefix length of a
    CIDR string; 32 when no suffix is present (KQL's default); null for
    malformed input (bad address, or suffix outside [0, 32])."""
    c = _c(col)
    parts = F.split(c, "/")
    addr = parts[0]
    has_suffix = c.contains("/")
    sfx_str = parts[1]
    # more than one '/' ('1.2.3.4/24/9') is malformed — without the size
    # guard split[1] would see '24' and wrongly return it
    sfx_ok = (
        (F.size(parts) <= 2)
        & sfx_str.rlike("^[0-9]{1,2}$")
        & (sfx_str.cast("int") <= 32)
    )
    sfx = F.when(~has_suffix, F.lit(32)).when(sfx_ok, sfx_str.cast("int"))
    return F.when(
        parse_ipv4(addr).isNotNull(), sfx.cast("long")
    ).otherwise(F.lit(None).cast("long"))


def parse_url_kql(col: Column | str) -> Column:
    """KQL ``parse_url`` — decompose a URL into a property bag. Emitted as
    a struct (Scheme, Host, Port, Path, Query String, Fragment) built from
    Spark's native ``parse_url`` (JVM java.net.URI — codegen'd, no UDF);
    ``to_json`` of the result matches KQL's dynamic-bag shape."""
    c = _c(col)
    # PORT is not a parse_url part (Hive parts: PROTOCOL/HOST/PATH/QUERY/
    # REF/FILE/AUTHORITY/USERINFO) — extract it from AUTHORITY instead
    port = F.nullif(
        F.regexp_extract(F.parse_url(c, F.lit("AUTHORITY")), r":(\d+)$", 1),
        F.lit(""),
    )
    return F.struct(
        F.parse_url(c, F.lit("PROTOCOL")).alias("Scheme"),
        F.parse_url(c, F.lit("HOST")).alias("Host"),
        port.alias("Port"),
        F.parse_url(c, F.lit("PATH")).alias("Path"),
        F.parse_url(c, F.lit("QUERY")).alias("QueryString"),
        F.parse_url(c, F.lit("REF")).alias("Fragment"),
    )


def url_decode(col: Column | str) -> Column:
    """KQL ``url_decode`` — percent-decoding (native, codegen)."""
    return F.url_decode(_c(col))


def url_encode_component(col: Column | str) -> Column:
    """KQL ``url_encode_component`` — percent-encoding. Native url_encode
    is java.net.URLEncoder (form encoding: space → '+'); KQL's component
    encoding wants %20, so '+' is post-replaced."""
    return F.replace(F.url_encode(_c(col)), F.lit("+"), F.lit("%20"))


def series_fill_forward(col: Column | str) -> Column:
    """KQL ``series_fill_forward`` over a PACKED series array (the
    long-form windowed fill is :func:`series_fill_linear`): nulls take the
    last preceding non-null value; leading nulls stay null. One aggregate
    pass; state is (result-so-far, last-non-null)."""
    c = _c(col)
    return F.aggregate(
        c,
        F.struct(
            F.array().cast("array<double>").alias("acc"),
            F.lit(None).cast("double").alias("last"),
        ),
        lambda st, x: F.struct(
            F.concat(
                st["acc"], F.array(F.coalesce(x.cast("double"), st["last"]))
            ).alias("acc"),
            F.coalesce(x.cast("double"), st["last"]).alias("last"),
        ),
        lambda st: st["acc"],
    )


def series_fill_backward(col: Column | str) -> Column:
    """KQL ``series_fill_backward`` over a packed series array — mirror of
    :func:`series_fill_forward`."""
    return F.reverse(series_fill_forward(F.reverse(_c(col))))


# ---- round-4 additions: bitwise scalars, geo, rank functions ----


def binary_and(a: Column | str, b) -> Column:
    """KQL ``binary_and(a, b)`` scalar."""
    return _c(a).cast("long").bitwiseAND(_lit_or_col(b))


def binary_or(a: Column | str, b) -> Column:
    """KQL ``binary_or(a, b)`` scalar."""
    return _c(a).cast("long").bitwiseOR(_lit_or_col(b))


def binary_xor(a: Column | str, b) -> Column:
    """KQL ``binary_xor(a, b)`` scalar."""
    return _c(a).cast("long").bitwiseXOR(_lit_or_col(b))


def binary_not(a: Column | str) -> Column:
    """KQL ``binary_not`` — bitwise complement (``~`` on a PySpark Column
    is LOGICAL not; ``bitwise_not`` is the numeric one)."""
    return F.bitwise_not(_c(a).cast("long"))


def binary_shift_left(a: Column | str, n: int) -> Column:
    """KQL ``binary_shift_left(a, n)`` (constant shift amount)."""
    return F.shiftleft(_c(a).cast("long"), n)


def binary_shift_right(a: Column | str, n: int) -> Column:
    """KQL ``binary_shift_right(a, n)`` (arithmetic shift, like Kusto on
    long; constant shift amount)."""
    return F.shiftright(_c(a).cast("long"), n)


def bitset_count_ones(a: Column | str) -> Column:
    """KQL ``bitset_count_ones`` — population count."""
    return F.bit_count(_c(a).cast("long")).cast("long")


def _lit_or_col(v) -> Column:
    return F.lit(v).cast("long") if isinstance(v, int) else _c(v).cast("long")


def strcmp(a: Column | str, b: Column | str) -> Column:
    """KQL ``strcmp`` — -1/0/1 lexicographic comparison."""
    ca, cb = _c(a), _c(b)
    return (
        F.when(ca < cb, -1).when(ca > cb, 1).otherwise(0).cast("long")
    )


def string_size(col: Column | str) -> Column:
    """KQL ``string_size`` — byte length of the UTF-8 encoding (NOT the
    char count; multibyte text differs)."""
    return F.octet_length(_c(col)).cast("long")


def geo_distance_2points(
    lon1: Column, lat1: Column, lon2: Column, lat2: Column
) -> Column:
    """KQL ``geo_distance_2points`` — great-circle meters (haversine on
    the WGS84 mean radius). Pure codegen trig; callers comparing against
    another engine should round (libm sin/cos differ in the last ulp)."""
    r = 6371009.0  # IUGG mean earth radius, meters
    rad = lambda c: F.radians(c)  # noqa: E731
    dlat = rad(lat2) - rad(lat1)
    dlon = rad(lon2) - rad(lon1)
    a = (
        F.sin(dlat / 2) * F.sin(dlat / 2)
        + F.cos(rad(lat1)) * F.cos(rad(lat2)) * F.sin(dlon / 2) * F.sin(dlon / 2)
    )
    return F.lit(2.0 * r) * F.asin(F.sqrt(a))


def row_rank_dense(df: DataFrame, order: list, by: list[str] | None = None,
                   out_name: str = "rank") -> DataFrame:
    """KQL ``row_rank_dense`` — dense rank over the serialized order."""
    w = (Window.partitionBy(*by) if by else Window.partitionBy(F.lit(1))).orderBy(
        *[_c(c) for c in order]
    )
    return df.withColumn(out_name, F.dense_rank().over(w).cast("long"))


def row_rank_min(df: DataFrame, order: list, by: list[str] | None = None,
                 out_name: str = "rank") -> DataFrame:
    """KQL ``row_rank_min`` — standard competition rank (gaps after ties)."""
    w = (Window.partitionBy(*by) if by else Window.partitionBy(F.lit(1))).orderBy(
        *[_c(c) for c in order]
    )
    return df.withColumn(out_name, F.rank().over(w).cast("long"))


# ---- round-4 additions: series decomposition + anomaly flags ----


def series_decompose(
    df: DataFrame,
    value: str,
    order: Column | str,
    by: list[str],
    period: int,
    prefix: str = "sd",
) -> DataFrame:
    """KQL ``series_decompose`` in LONG form (one row per series point,
    like :func:`series_fill_linear`) — adds ``{prefix}_trend``,
    ``{prefix}_seasonal``, ``{prefix}_baseline``, ``{prefix}_residual``.

    Kusto's implementation is proprietary; this engine defines the
    decomposition DETERMINISTICALLY (same rationale as :func:`reduce_by`)
    with the classical additive model:

    - trend     — centered moving average, window = ``period``
                  (realized-length divisor at the edges);
    - seasonal  — per-phase mean of the detrended series
                  (phase = position mod period);
    - baseline  — trend + seasonal;  residual — x − baseline.

    Long form, not packed arrays, deliberately: nested higher-order
    functions are interpreted WITHOUT common-subexpression elimination,
    so a packed-array formulation re-evaluates the decomposition subtree
    per element (measured minutes for a 16-point series); the window
    formulation is pure codegen, shuffles once on the series keys, and
    scales with rows like any windowed aggregation.
    """
    half = period // 2
    w = Window.partitionBy(*by).orderBy(_c(order))
    pos = F.row_number().over(w) - 1
    out = df.withColumn(f"_{prefix}_pos", pos)
    wt = w.rowsBetween(-(period - 1 - half), half)
    out = out.withColumn(
        f"{prefix}_trend", F.avg(F.col(value).cast("double")).over(wt)
    )
    out = out.withColumn(
        f"_{prefix}_dt", F.col(value).cast("double") - F.col(f"{prefix}_trend")
    )
    # Per-phase mean as an ORDER-FORCED left fold (sort by position, then
    # sequential sum), not plain avg(): window-aggregate summation order is
    # engine-internal, and the last-ulp drift vs an external oracle's avg
    # flips values rounded for comparison. A position-sorted fold is
    # bit-identical in any engine that can sort a list and fold it.
    wp = Window.partitionBy(*by, F.col(f"_{prefix}_pos") % period)
    phase_vals = F.array_sort(
        F.collect_list(
            F.struct(
                F.col(f"_{prefix}_pos").alias("p"),
                F.col(f"_{prefix}_dt").alias("dt"),
            )
        ).over(wp)
    )
    out = out.withColumn(
        f"{prefix}_seasonal",
        F.aggregate(phase_vals, F.lit(0.0), lambda a, e: a + e["dt"])
        / F.size(phase_vals),
    )
    out = out.withColumn(
        f"{prefix}_baseline",
        F.col(f"{prefix}_trend") + F.col(f"{prefix}_seasonal"),
    )
    out = out.withColumn(
        f"{prefix}_residual",
        F.col(value).cast("double") - F.col(f"{prefix}_baseline"),
    )
    return out.drop(f"_{prefix}_pos", f"_{prefix}_dt")


def series_decompose_anomalies(
    df: DataFrame,
    value: str,
    order: Column | str,
    by: list[str],
    period: int,
    threshold: float = 1.5,
    flag_name: str = "anomaly_flag",
) -> DataFrame:
    """KQL ``series_decompose_anomalies`` (long form) — per-point anomaly
    flags (+1 high / −1 low / 0 normal) from the decomposition residual
    scored against a robust spread estimate:

        score = (residual − median(residual)) / (1.4826 · MAD(residual))

    (1.4826 · MAD ≈ σ under normality — the standard robust z-score;
    ``percentile(…, 0.5)`` gives the same interpolated median DuckDB
    uses, keeping the oracle exact). Zero MAD flags nothing.
    """
    out = series_decompose(df, value, order, by, period, prefix="_an")
    wk = Window.partitionBy(*by)
    med = F.expr("percentile(_an_residual, 0.5)").over(wk)
    out = out.withColumn("_an_med", med)
    out = out.withColumn("_an_absdev", F.abs(F.col("_an_residual") - F.col("_an_med")))
    out = out.withColumn("_an_mad", F.expr("percentile(_an_absdev, 0.5)").over(wk))
    denom = F.lit(1.4826) * F.col("_an_mad")
    score = (F.col("_an_residual") - F.col("_an_med")) / denom
    out = out.withColumn(
        flag_name,
        F.when(F.col("_an_mad") == 0, F.lit(0))
        .when(score > threshold, F.lit(1))
        .when(score < -threshold, F.lit(-1))
        .otherwise(F.lit(0))
        .cast("long"),
    )
    return out.drop(
        "_an_trend", "_an_seasonal", "_an_baseline", "_an_residual",
        "_an_med", "_an_absdev", "_an_mad",
    )


# ---- round-4 additions: property-bag utilities ----


def bag_keys(col: Column | str) -> Column:
    """KQL ``bag_keys`` — sorted key array of a JSON property bag
    (sorted for determinism; KQL's order is unspecified)."""
    return F.array_sort(F.json_object_keys(_c(col)))


def bag_merge(a: Column | str, b: Column | str) -> Column:
    """KQL ``bag_merge(a, b)`` — merge two JSON bags, LEFT value wins on
    key conflicts (Kusto's rule). String-valued bags (the engine's bag
    normal form, cf. :func:`make_bag_sorted`); output keys sorted.
    A null/unparseable side is treated as the EMPTY bag (Kusto returns
    the other bag rather than null-poisoning the merge)."""
    empty = F.from_json(F.lit("{}"), "map<string,string>")
    ma = F.coalesce(F.from_json(_c(a), "map<string,string>"), empty)
    mb = F.coalesce(F.from_json(_c(b), "map<string,string>"), empty)
    only_b = F.filter(
        F.map_entries(mb),
        lambda e: ~F.array_contains(F.map_keys(ma), e["key"]),
    )
    entries = F.array_sort(F.concat(F.map_entries(ma), only_b))
    return F.to_json(F.map_from_entries(entries))


def bag_remove_keys(col: Column | str, keys: list[str]) -> Column:
    """KQL ``bag_remove_keys`` — drop the listed keys; output sorted."""
    m = F.from_json(_c(col), "map<string,string>")
    kept = F.filter(
        F.map_entries(m), lambda e: ~e["key"].isin(*keys) if keys else F.lit(True)
    )
    return F.to_json(F.map_from_entries(F.array_sort(kept)))


def basket_frequent(
    df: DataFrame,
    cols: list[str],
    min_support: float = 0.05,
    max_size: int = 2,
) -> DataFrame:
    """KQL ``evaluate basket()`` — frequent attribute-value combinations.

    Kusto's basket is a sampled Apriori heuristic; this engine defines the
    DETERMINISTIC exact variant over the given columns: every single
    attribute value and (for ``max_size >= 2``) every cross-column value
    pair whose row support ≥ ``min_support`` of the input. Itemsets are
    rendered canonically as sorted ``col=value`` strings, so output is
    oracle-replayable.

    Scale: one map-side-combinable aggregation per column plus one per
    column PAIR (k·(k−1)/2 for k columns — the column list is small by
    construction; rows are never joined against rows). The support
    denominator is one scalar count.
    """
    n = df.count()
    floor_n = float(min_support) * n

    # A null attribute value still forms a (labeled) group: render it as
    # the literal "null" instead of letting F.concat null-poison the whole
    # itemset string (DuckDB's concat treats NULL as '' — the sentinel
    # keeps both engines agreeing and the row identifiable).
    def _s(col_name: str) -> Column:
        return F.coalesce(F.col(col_name).cast("string"), F.lit("null"))

    parts = []
    for c in cols:
        parts.append(
            df.groupBy(F.col(c))
            .agg(F.count(F.lit(1)).alias("n_rows"))
            .filter(F.col("n_rows") >= floor_n)
            .select(
                F.concat(F.lit(f"{c}="), _s(c)).alias("itemset"),
                F.lit(1).alias("size"),
                "n_rows",
            )
        )
    if max_size >= 2:
        for i, a in enumerate(cols):
            for b in cols[i + 1 :]:
                parts.append(
                    df.groupBy(F.col(a), F.col(b))
                    .agg(F.count(F.lit(1)).alias("n_rows"))
                    .filter(F.col("n_rows") >= floor_n)
                    .select(
                        F.concat(
                            F.lit(f"{a}="), _s(a),
                            F.lit(f",{b}="), _s(b),
                        ).alias("itemset"),
                        F.lit(2).alias("size"),
                        "n_rows",
                    )
                )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.withColumn(
        "support", F.col("n_rows").cast("double") / F.lit(float(n))
    )


# ---------------------------------------------------------------------------
# Round-5 additions: series line fitting, pattern mining, weighted
# percentiles, timespan scalars
# ---------------------------------------------------------------------------


def _fsum(arr: Column) -> Column:
    """Left-to-right double fold — the one addition order every engine can
    replay (same convention as series_stats / series_pearson_correlation)."""
    return F.aggregate(arr, F.lit(0.0), lambda a, x: a + x.cast("double"))


def _fit_sums(arr: Column, n: Column) -> tuple[Column, Column, Column]:
    """(sy, syy, sxy) for a series segment with LOCAL x = 0..n-1."""
    sy = _fsum(arr)
    syy = _fsum(F.transform(arr, lambda y: y.cast("double") * y.cast("double")))
    sxy = _fsum(
        F.zip_with(
            F.sequence(F.lit(0), n - 1),
            arr,
            lambda i, y: i.cast("double") * y.cast("double"),
        )
    )
    return sy, syy, sxy


def _ols(n: Column, sy: Column, syy: Column, sxy: Column):
    """Closed-form OLS over x = 0..n-1: (slope, intercept, syy_c, sse).

    sx = n(n-1)/2 and sxx = (n-1)n(2n-1)/6 are exact integer sums of the
    index axis; syy_c is the centered Σ(y-ȳ)² and sse the residual sum of
    squares — everything downstream (variance, rvariance, rsquare) derives
    from these four.
    """
    nd = n.cast("double")
    sx = nd * (nd - 1) / 2.0
    sxx = (nd - 1) * nd * (2.0 * nd - 1) / 6.0
    sxx_c = sxx - sx * sx / nd
    sxy_c = sxy - sx * sy / nd
    syy_c = syy - sy * sy / nd
    slope = F.when(n > 1, sxy_c / sxx_c).otherwise(F.lit(0.0))
    intercept = (sy - slope * sx) / nd
    sse = F.greatest(syy_c - slope * sxy_c, F.lit(0.0))
    return slope, intercept, syy_c, sse


def series_fit_line(col: Column | str) -> Column:
    """KQL ``series_fit_line(series)`` — least-squares line over the packed
    array (x = element index). Returns a struct
    (slope, interception, rsquare, variance, rvariance):
    variance = sample variance of the series, rvariance = sample residual
    variance, rsquare = 1 − rvariance/variance (1.0 for a flat series —
    the fit is exact). One pass of higher-order folds, no explode, no UDF.
    """
    c = _c(col)
    n = F.size(c)
    sy, syy, sxy = _fit_sums(c, n)
    slope, intercept, syy_c, sse = _ols(n, sy, syy, sxy)
    variance = F.when(n > 1, syy_c / (n - 1)).otherwise(F.lit(0.0))
    rvariance = F.when(n > 1, sse / (n - 1)).otherwise(F.lit(0.0))
    rsquare = F.when(variance > 0, 1.0 - rvariance / variance).otherwise(F.lit(1.0))
    return F.struct(
        slope.alias("slope"),
        intercept.alias("interception"),
        rsquare.alias("rsquare"),
        variance.alias("variance"),
        rvariance.alias("rvariance"),
    )


def series_fit_2lines(col: Column | str) -> Column:
    """KQL ``series_fit_2lines(series)`` — best single split of the series
    into two independently-fitted segments, minimizing total residual SSE.

    Returns a struct (split_idx, rsquare, slope_left, interception_left,
    slope_right, interception_right). The split index s means the left
    segment is elements [0, s) and the right is [s, n); both segments must
    have ≥ 2 points, so s ranges over [2, n−2]. Intercepts are reported in
    GLOBAL x coordinates (the line over the right segment evaluated at
    x = 0), which is shift-consistent across engines; slopes and SSE are
    shift-invariant. rsquare = 1 − (SSE_l + SSE_r)/Σ(y−ȳ)².

    Cost: the candidate scan is O(n) splits × O(n) folds = O(n²) arithmetic
    per series row, all inside codegen — fine for series arrays (a series
    is one group's time axis, typically 10²–10³ bins), and embarrassingly
    parallel across rows. Argmin ties break toward the smaller split via
    struct ordering (sse first, then s).
    """
    c = _c(col)
    n = F.size(c)
    sy, syy, sxy = _fit_sums(c, n)
    _, _, syy_c_tot, _ = _ols(n, sy, syy, sxy)

    def seg_sse(arr: Column) -> Column:
        m = F.size(arr)
        s_y, s_yy, s_xy = _fit_sums(arr, m)
        _, _, _, sse = _ols(m, s_y, s_yy, s_xy)
        return sse

    candidates = F.transform(
        F.sequence(F.lit(2), F.greatest(n - 2, F.lit(2))),
        lambda s: F.struct(
            (seg_sse(F.slice(c, 1, s)) + seg_sse(F.slice(c, s + 1, n - s))).alias(
                "sse"
            ),
            s.alias("s"),
        ),
    )
    best = F.when(n >= 4, F.array_min(candidates)).otherwise(
        F.struct(F.lit(0.0).alias("sse"), F.lit(0).alias("s"))
    )
    split = best["s"]

    left = F.slice(c, 1, split)
    right = F.slice(c, split + 1, n - split)
    ln = F.size(left)
    rn = F.size(right)
    lsy, lsyy, lsxy = _fit_sums(left, ln)
    rsy, rsyy, rsxy = _fit_sums(right, rn)
    lslope, lint, _, _ = _ols(ln, lsy, lsyy, lsxy)
    rslope, rint_local, _, _ = _ols(rn, rsy, rsyy, rsxy)
    # local → global x: x_local = x_global − split
    rint = rint_local - rslope * split.cast("double")
    rsquare = F.when(
        syy_c_tot > 0, 1.0 - best["sse"] / syy_c_tot
    ).otherwise(F.lit(1.0))
    return F.struct(
        split.cast("long").alias("split_idx"),
        rsquare.alias("rsquare"),
        lslope.alias("slope_left"),
        lint.alias("interception_left"),
        rslope.alias("slope_right"),
        rint.alias("interception_right"),
    )


def autocluster(
    df: DataFrame,
    cols: list[str],
    min_support: float = 0.1,
    max_size: int = 2,
    num_segments: int = 16,
) -> DataFrame:
    """KQL ``evaluate autocluster()`` — common attribute-value segments.

    Kusto's autocluster is a sampled heuristic; as with ``basket_frequent``
    this engine defines the DETERMINISTIC exact variant: every pattern over
    1..``max_size`` of the given columns (unlisted columns are wildcards)
    whose row support ≥ ``min_support``, ranked by count desc (ties: fewer
    wildcards first, then the rendered pattern), top ``num_segments`` kept.
    Output: (segment_id, n_rows, percent, <one column per input column —
    value, or null for wildcard>).

    Scale: ONE map-side-combinable GROUPING SETS aggregation computes
    every column subset's counts AND the global row count in a single
    pass (r15, guide §2.4: the former per-subset groupBys + a separate
    count() re-scanned the source once per subset — 7 scans for 3
    columns at max_size=2 — for byte-identical rows); rows never join
    rows; the ranking runs over ≤ Σ|distinct patterns| aggregate rows,
    not data rows.
    """
    from itertools import combinations

    def _s(col_name: str) -> Column:
        return F.coalesce(F.col(col_name).cast("string"), F.lit("null"))

    subsets = [
        list(subset)
        for size in range(1, max_size + 1)
        for subset in combinations(cols, size)
    ]
    from kusto_pre_forge_spark.pinning import pin as _pin

    # grouping() disambiguates a wildcard (grouping-set null) from a real
    # null VALUE in a grouped column, so grouping raw columns here is
    # exactly equivalent to the former one-groupBy-per-subset form. The
    # empty set [] contributes the global row count the min_support floor
    # and `percent` divide by — the former separate df.count() pass.
    agg = _pin(
        df.groupingSets(
            [[F.col(c) for c in s] for s in subsets] + [[]],
            *[F.col(c) for c in cols],
        ).agg(
            F.count(F.lit(1)).alias("n_rows"),
            *[F.grouping(c).alias(f"_g_{c}") for c in cols],
        )
    )
    is_total = None
    for c in cols:
        t = F.col(f"_g_{c}") == 1
        is_total = t if is_total is None else (is_total & t)
    n = agg.filter(is_total).collect()[0]["n_rows"]
    floor_n = float(min_support) * n
    size_expr = None
    for c in cols:
        s = F.lit(1) - F.col(f"_g_{c}")
        size_expr = s if size_expr is None else (size_expr + s)
    rendered = F.concat_ws(
        ",",
        *[
            F.when(
                F.col(f"_g_{c}") == 0, F.concat(F.lit(f"{c}="), _s(c))
            )
            for c in cols
        ],
    )
    proj = [
        F.when(F.col(f"_g_{c}") == 1, F.lit(None).cast("string"))
        .otherwise(_s(c))
        .alias(c)
        for c in cols
    ]
    out = (
        agg.filter(~is_total)
        .filter(F.col("n_rows") >= floor_n)
        .select(
            size_expr.alias("_size"),
            rendered.alias("_pattern"),
            F.col("n_rows"),
            *proj,
        )
    )
    # Rank by (n_rows desc, size asc, pattern asc) WITHOUT a global window:
    # even over bounded aggregate rows, a row_number() window plans an
    # Exchange SinglePartition, and the repo's plan-shape guard
    # (tests/test_planshape.py) stays strictest if no query needs an
    # allowlist. rank(x) = 1 + |{y : y sorts before x}| via a broadcast
    # non-equi self-join over the tiny pattern set, O(p²) comparisons on
    # O(p) aggregate rows.
    l, r = out.alias("l"), out.alias("r")
    lc, rc = (lambda c: F.col(f"l.{c}")), (lambda c: F.col(f"r.{c}"))
    before = (rc("n_rows") > lc("n_rows")) | (
        (rc("n_rows") == lc("n_rows"))
        & (
            (rc("_size") < lc("_size"))
            | ((rc("_size") == lc("_size")) & (rc("_pattern") < lc("_pattern")))
        )
    )
    ranked = (
        l.join(F.broadcast(r), before, "left")
        .groupBy(lc("_pattern").alias("_pattern"))
        .agg(
            (F.count(rc("_pattern")) + 1).alias("_rk"),
            F.first(lc("n_rows")).alias("n_rows"),
            *[F.first(lc(c)).alias(c) for c in cols],
        )
    )
    return (
        ranked.filter(F.col("_rk") <= num_segments)
        .select(
            (F.col("_rk") - 1).cast("long").alias("segment_id"),
            F.col("n_rows"),
            (F.col("n_rows").cast("double") / F.lit(float(n))).alias("percent"),
            *[F.col(c) for c in cols],
        )
    )


def diffpatterns(
    df: DataFrame,
    cols: list[str],
    split_col: str,
    value_a,
    value_b,
    min_support: float = 0.05,
    max_size: int = 2,
) -> DataFrame:
    """KQL ``evaluate diffpatterns()`` — patterns whose prevalence differs
    between two row cohorts (A = rows where ``split_col == value_a``, B =
    ``== value_b``). Deterministic exact variant (Kusto's is sampled):
    every pattern over 1..``max_size`` of ``cols`` with support ≥
    ``min_support`` in EITHER cohort; output per pattern: count_a/b,
    percent_a/b (of each cohort), percent_diff = percent_a − percent_b,
    plus the pattern columns (null = wildcard).

    Scale: same shape as ``autocluster`` — per-subset conditional
    aggregations (count_if riding the same groupBy), no row-row joins.
    """
    from itertools import combinations

    in_a = F.col(split_col) == F.lit(value_a)
    in_b = F.col(split_col) == F.lit(value_b)
    base = df.filter(in_a | in_b)
    totals = base.agg(
        F.sum(in_a.cast("long")).alias("na"), F.sum(in_b.cast("long")).alias("nb")
    ).collect()[0]
    na, nb = totals["na"] or 0, totals["nb"] or 0

    def _s(col_name: str) -> Column:
        return F.coalesce(F.col(col_name).cast("string"), F.lit("null"))

    parts = []
    for size in range(1, max_size + 1):
        for subset in combinations(cols, size):
            proj = [
                (_s(c) if c in subset else F.lit(None).cast("string")).alias(c)
                for c in cols
            ]
            parts.append(
                base.groupBy(*[F.col(c) for c in subset])
                .agg(
                    F.sum(in_a.cast("long")).alias("count_a"),
                    F.sum(in_b.cast("long")).alias("count_b"),
                )
                .select(F.lit(size).alias("_size"), "count_a", "count_b", *proj)
            )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    pa = F.col("count_a").cast("double") / F.lit(float(max(na, 1)))
    pb = F.col("count_b").cast("double") / F.lit(float(max(nb, 1)))
    return (
        out.withColumn("percent_a", pa)
        .withColumn("percent_b", pb)
        .filter(
            (F.col("percent_a") >= min_support) | (F.col("percent_b") >= min_support)
        )
        .withColumn("percent_diff", F.col("percent_a") - F.col("percent_b"))
        .select(
            "count_a", "count_b", "percent_a", "percent_b", "percent_diff",
            *[F.col(c) for c in cols], F.col("_size").alias("size"),
        )
    )


def percentilesw(
    df: DataFrame,
    value_col: str,
    weight_col: str,
    percentiles: list[float],
    by: list[str] | None = None,
) -> DataFrame:
    """KQL ``percentilew(expr, weight, p)`` / ``percentilesw(...)`` —
    weighted percentiles per group. Definition (Kusto's documented
    semantics): sort the group by value; the p-th weighted percentile is
    the smallest value whose CUMULATIVE weight ≥ p% of the group's total
    weight.

    Plan: one window (partitioned by the group key — parallel across
    groups, never a whole-table window) for the running weight, one
    map-side-combinable aggregate for the thresholds. A 100 TB group is a
    skew problem for ANY per-group percentile; the group key cardinality
    is the parallelism, as with every KQL summarize.
    """
    by = by or []
    w = Window.partitionBy(*[F.col(c) for c in by]).orderBy(F.col(value_col))
    t = df.withColumn(
        "_kpf_cumw",
        F.sum(F.col(weight_col).cast("double")).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    tot = Window.partitionBy(*[F.col(c) for c in by])
    t = t.withColumn("_kpf_totw", F.sum(F.col(weight_col).cast("double")).over(tot))
    aggs = [
        F.min(
            F.when(
                F.col("_kpf_cumw") >= F.lit(p / 100.0) * F.col("_kpf_totw"),
                F.col(value_col),
            )
        ).alias(f"percentile_{str(p).replace('.', '_')}")
        for p in percentiles
    ]
    return t.groupBy(*[F.col(c) for c in by]).agg(*aggs)


#: KQL timespan literal: [d.]hh:mm:ss[.fraction]
_TIMESPAN_RE = r"^(?:(\d+)\.)?(\d+):(\d+):(\d+(?:\.\d+)?)$"


def totimespan(col: Column | str) -> Column:
    """KQL ``totimespan(string)`` → seconds (double); null when the string
    is not a valid ``[d.]hh:mm:ss[.fraction]`` timespan — codegen regexp
    arithmetic, replayable in any engine with regexp_extract."""
    c = _c(col)
    valid = c.rlike(_TIMESPAN_RE)
    days = F.coalesce(
        F.nullif(F.regexp_extract(c, _TIMESPAN_RE, 1), F.lit("")), F.lit("0")
    ).cast("double")
    h = F.regexp_extract(c, _TIMESPAN_RE, 2).cast("double")
    m = F.regexp_extract(c, _TIMESPAN_RE, 3).cast("double")
    s = F.regexp_extract(c, _TIMESPAN_RE, 4).cast("double")
    return F.when(valid, days * 86400 + h * 3600 + m * 60 + s)


def format_timespan(seconds: Column | str, fmt: str = "d.hh:mm:ss") -> Column:
    """KQL ``format_timespan(timespan, format)`` for the common formats
    ``d.hh:mm:ss`` and ``hh:mm:ss`` (hours overflow into the count in the
    latter) — integer arithmetic + format_string, pure codegen."""
    sec = _c(seconds).cast("long")
    d = F.floor(sec / 86400)
    h = F.floor((sec % 86400) / 3600)
    m = F.floor((sec % 3600) / 60)
    s = sec % 60
    if fmt == "d.hh:mm:ss":
        return F.format_string("%d.%02d:%02d:%02d", d, h, m, s)
    if fmt == "hh:mm:ss":
        return F.format_string("%02d:%02d:%02d", F.floor(sec / 3600), m, s)
    raise ValueError(f"unsupported timespan format: {fmt}")


def translate_kql(search: str, replace: str, text: Column | str) -> Column:
    """KQL ``translate(searchList, replacementList, text)`` — Spark's
    builtin with KQL's argument order (text LAST, literal char lists).
    Extra search chars with no replacement are deleted, matching both
    engines' translate semantics."""
    return F.translate(_c(text), search, replace)


def series_periods_detect(
    col: Column | str,
    min_period: int = 2,
    max_period: int | None = None,
    num_periods: int = 3,
) -> Column:
    """KQL ``series_periods_detect(series, ...)`` — dominant periods by
    normalized autocorrelation (Kusto's detector is autoperiod-style;
    this engine defines the deterministic ACF variant):

        r(L) = Σᵢ (yᵢ − ȳ)(yᵢ₊L − ȳ) / Σᵢ (yᵢ − ȳ)²

    over candidate lags L in [min_period, max_period] (default n/2),
    returning a struct of two aligned arrays (periods, scores) with the
    ``num_periods`` highest-scoring lags, score-desc / lag-asc. A flat
    series (zero variance) yields empty arrays.

    All higher-order folds over the packed array — O(lags·n) arithmetic
    per series row inside codegen, no explode, no UDF, embarrassingly
    parallel across series rows (same cost model as series_fit_2lines).
    """
    c = _c(col)
    n = F.size(c)
    mean = _fsum(c) / n.cast("double")
    centered = F.transform(c, lambda y: y.cast("double") - mean)
    denom = _fsum(F.transform(centered, lambda y: y * y))
    hi = F.least(
        F.lit(max_period) if max_period is not None else (n / 2).cast("int"),
        n - 1,
    )
    lags = F.sequence(F.lit(min_period), F.greatest(hi, F.lit(min_period)))

    def acf(L: Column) -> Column:
        m = n - L
        return (
            _fsum(
                F.zip_with(
                    F.slice(centered, 1, m),
                    F.slice(centered, L + 1, m),
                    lambda a, b: a * b,
                )
            )
            / denom
        )

    # sort ascending on (−score, lag) ≡ score desc, lag asc — struct
    # ordering gives the deterministic tie-break for free
    scored = F.transform(
        lags, lambda L: F.struct((-acf(L)).alias("neg"), L.alias("lag"))
    )
    top = F.slice(F.array_sort(scored), 1, num_periods)
    periods = F.transform(top, lambda t: t["lag"].cast("long"))
    scores = F.transform(top, lambda t: -t["neg"])
    empty_l = F.array().cast("array<long>")
    empty_d = F.array().cast("array<double>")
    return F.when(
        (denom > 0) & (n > min_period),
        F.struct(periods.alias("periods"), scores.alias("scores")),
    ).otherwise(F.struct(empty_l.alias("periods"), empty_d.alias("scores")))


def series_fit_2lines_df(
    df: DataFrame,
    value_col: str,
    by_cols: list[str],
    prefix: str = "fit2",
) -> DataFrame:
    """Scale form of ``series_fit_2lines`` for LONG series — linear work
    instead of the packed-array form's O(n²) candidate scan (which also
    re-evaluates interpreted HOF folds per consumer; measured 48 s on
    ~330-bin series at sf0.1 vs ~1 s for this form).

    Shape: posexplode the series → one window per series key for the
    EXCLUSIVE running sums (Σy, Σy², Σxy up to each candidate split) →
    totals read from the inclusive cumsum's last row (max), so every
    quantity is a sequential left-to-right sum an external engine replays
    bit-exactly with the same window → each row's split SSE is O(1)
    closed-form arithmetic from prefix + total (right-segment sums by
    subtraction, local-x conversion ``sxy_r − s·sy_r``) → per-key argmin
    via ``min(struct(sse, s, …payload))``. One hash exchange on the
    series key; everything else stays in whole-stage codegen.

    Returns one row per key: (by_cols…, {prefix}_split_idx, {prefix}_rsquare,
    {prefix}_slope_left/right, {prefix}_interception_left/right) —
    identical semantics to ``series_fit_2lines`` (segments ≥ 2 points,
    global-x intercepts, rsquare vs total centered Σ(y−ȳ)²).
    """
    e = df.select(
        *[F.col(c) for c in by_cols],
        F.posexplode(F.col(value_col)).alias("_i", "_v"),
    ).withColumn("_v", F.col("_v").cast("double"))
    key = [F.col(c) for c in by_cols]
    w = Window.partitionBy(*key).orderBy("_i")
    excl = w.rowsBetween(Window.unboundedPreceding, -1)
    incl = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    wk = Window.partitionBy(*key)

    t = (
        e.withColumn("_lsy", F.coalesce(F.sum("_v").over(excl), F.lit(0.0)))
        .withColumn(
            "_lsyy",
            F.coalesce(F.sum(F.col("_v") * F.col("_v")).over(excl), F.lit(0.0)),
        )
        .withColumn(
            "_lsxy",
            F.coalesce(F.sum(F.col("_i") * F.col("_v")).over(excl), F.lit(0.0)),
        )
        # inclusive cumsums carry the totals to every row via max-over-key:
        # the total equals the LAST inclusive cumsum, a sequential
        # left-to-right sum — bit-identical in any engine's ordered window
        .withColumn("_csy", F.sum("_v").over(incl))
        .withColumn("_csyy", F.sum(F.col("_v") * F.col("_v")).over(incl))
        .withColumn("_csxy", F.sum(F.col("_i") * F.col("_v")).over(incl))
    )
    # totals = the LAST inclusive cumsum (max_by on the index, not max of
    # the cumsum — a series with negative values has non-monotone cumsums)
    t = (
        t.withColumn("_n", F.count(F.lit(1)).over(wk))
        .withColumn("_sy", F.expr("max_by(_csy, _i)").over(wk))
        .withColumn("_syy", F.expr("max_by(_csyy, _i)").over(wk))
        .withColumn("_sxy", F.expr("max_by(_csxy, _i)").over(wk))
    )

    def ols_sse(m, sy, syy, sxy):
        md = m.cast("double")
        sx = md * (md - 1) / 2.0
        sxx = (md - 1) * md * (2.0 * md - 1) / 6.0
        sxx_c = sxx - sx * sx / md
        sxy_c = sxy - sx * sy / md
        syy_c = syy - sy * sy / md
        slope = sxy_c / sxx_c
        intercept = (sy - slope * sx) / md
        sse = F.greatest(syy_c - slope * sxy_c, F.lit(0.0))
        return slope, intercept, sse

    s = F.col("_i")
    n = F.col("_n")
    cand = t.filter((s >= 2) & (s <= n - 2))
    rsy = F.col("_sy") - F.col("_lsy")
    rsyy = F.col("_syy") - F.col("_lsyy")
    rsxy_local = (F.col("_sxy") - F.col("_lsxy")) - s.cast("double") * rsy
    lslope, lint, lsse = ols_sse(s, F.col("_lsy"), F.col("_lsyy"), F.col("_lsxy"))
    rslope, rint_local, rsse = ols_sse(n - s, rsy, rsyy, rsxy_local)
    rint = rint_local - rslope * s.cast("double")
    syy_c_tot = F.col("_syy") - F.col("_sy") * F.col("_sy") / n.cast("double")
    scored = cand.select(
        *key,
        F.struct(
            (lsse + rsse).alias("sse"),
            s.alias("s"),
            lslope.alias("lslope"),
            lint.alias("lint"),
            rslope.alias("rslope"),
            rint.alias("rint"),
        ).alias("_cand"),
        syy_c_tot.alias("_syyc"),
    )
    best = scored.groupBy(*key).agg(
        F.min("_cand").alias("_b"), F.first("_syyc").alias("_syyc")
    )
    b = F.col("_b")
    rsq = F.when(
        F.col("_syyc") > 0, 1.0 - b["sse"] / F.col("_syyc")
    ).otherwise(F.lit(1.0))
    return best.select(
        *key,
        b["s"].cast("long").alias(f"{prefix}_split_idx"),
        rsq.alias(f"{prefix}_rsquare"),
        b["lslope"].alias(f"{prefix}_slope_left"),
        b["lint"].alias(f"{prefix}_interception_left"),
        b["rslope"].alias(f"{prefix}_slope_right"),
        b["rint"].alias(f"{prefix}_interception_right"),
    )


def extract_all_kql(pattern: str, text: Column | str, group: int = 1) -> Column:
    """KQL ``extract_all(regex, text)`` — all matches of the capture group
    as an array (Spark's native regexp_extract_all; group 0 = whole
    match)."""
    return F.regexp_extract_all(_c(text), F.lit(pattern), group)


#: dotted-version part weights: each part gets 8 decimal digits, as Kusto
_VER_W = [10**24, 10**16, 10**8, 1]


def parse_version(col: Column | str) -> Column:
    """KQL ``parse_version(str)`` — dotted version (up to 4 numeric parts,
    each < 10⁸) → one comparable decimal(38,0):
    ``p1·10²⁴ + p2·10¹⁶ + p3·10⁸ + p4``. Missing parts count as 0; a
    malformed first part (or >4 parts / non-numeric part) → null."""
    c = _c(col)
    parts = F.split(c, r"\.")
    ok = (F.size(parts) >= 1) & (F.size(parts) <= 4) & c.rlike(r"^\d+(\.\d+){0,3}$")
    total = F.lit(0).cast("decimal(38,0)")
    for i, w in enumerate(_VER_W):
        p = F.coalesce(
            F.try_element_at(parts, F.lit(i + 1)).cast("decimal(38,0)"),
            F.lit(0).cast("decimal(38,0)"),
        )
        # weight as a string literal: 10²⁴ exceeds a long, so lit() can't
        # carry it — the decimal cast parses it exactly
        total = total + p * F.lit(str(w)).cast("decimal(38,0)")
    return F.when(ok, total)


def array_iff(cond: Column | str, if_true: Column | str, if_false: Column | str) -> Column:
    """KQL ``array_iff(condition_array, when_true, when_false)`` — element-
    wise select between two aligned arrays.

    ⚠ pass MATERIALIZED attributes for the value arrays on hot paths —
    the per-element ``element_at`` lookups re-evaluate inline expressions
    per element (the HOF no-CSE rule)."""
    t, f_ = _c(if_true), _c(if_false)
    return F.transform(
        _c(cond),
        lambda c, i: F.when(c, F.try_element_at(t, i + 1)).otherwise(
            F.try_element_at(f_, i + 1)
        ),
    )


def array_shift_left(arr: Column | str, n: int, fill=None) -> Column:
    """KQL ``array_shift_left(arr, n, [fill])`` — shift elements left by
    ``n`` (negative = right), vacated slots filled with ``fill``/null."""
    a = _c(arr)
    size = F.size(a)
    pad = lambda m: F.array_repeat(F.lit(fill), m)  # noqa: E731
    if n >= 0:
        return F.concat(F.slice(a, n + 1, F.greatest(size - n, F.lit(0))), pad(F.least(F.lit(n), size)))
    m = -n
    return F.concat(pad(F.least(F.lit(m), size)), F.slice(a, 1, F.greatest(size - m, F.lit(0))))


def jaccard_index(a: Column | str, b: Column | str) -> Column:
    """KQL ``jaccard_index(set1, set2)`` — |A∩B| / |A∪B| over array sets."""
    inter = F.size(F.array_intersect(_c(a), _c(b))).cast("double")
    union = F.size(F.array_union(_c(a), _c(b))).cast("double")
    return F.when(union > 0, inter / union).otherwise(F.lit(0.0))


def set_has_element(arr: Column | str, element) -> Column:
    """KQL ``set_has_element(arr, value)``."""
    return F.array_contains(_c(arr), element)


_BYTE_UNITS = ["Bytes", "KB", "MB", "GB", "TB", "PB", "EB"]


def format_bytes(size: Column | str, precision: int = 1) -> Column:
    """KQL ``format_bytes(size, precision)`` — humanized 1024-base size
    string, largest unit whose quotient is ≥ 1 (0 stays Bytes)."""
    s = _c(size).cast("double")
    expr = F.concat(
        F.format_string(f"%.{precision}f", s), F.lit(" " + _BYTE_UNITS[0])
    )
    for i, unit in enumerate(_BYTE_UNITS[1:], 1):
        bound = float(1024**i)
        expr = F.when(
            s >= bound,
            F.concat(
                F.format_string(f"%.{precision}f", s / bound),
                F.lit(" " + unit),
            ),
        ).otherwise(expr)
    return expr


def strrep(s: Column | str, n: Column | int) -> Column:
    """KQL ``strrep(value, multiplier)``."""
    return F.repeat(_c(s), n)


def strcat_delim(delim: str, *cols: Column | str) -> Column:
    """KQL ``strcat_delim(delimiter, arg1, arg2, ...)``."""
    return F.concat_ws(delim, *[_c(c) for c in cols])


def binary_all_and(col: Column | str) -> Column:
    """KQL ``binary_all_and(expr)`` aggregate — bitwise AND over the group."""
    return F.bit_and(_c(col))


def binary_all_or(col: Column | str) -> Column:
    """KQL ``binary_all_or(expr)`` aggregate."""
    return F.bit_or(_c(col))


def binary_all_xor(col: Column | str) -> Column:
    """KQL ``binary_all_xor(expr)`` aggregate."""
    return F.bit_xor(_c(col))


def graph_match_path(
    edges: DataFrame,
    directions: list[str],
    src_col: str = "src",
    dst_col: str = "dst",
    distinct_nodes: bool = True,
    max_degree: int | None = None,
) -> DataFrame:
    """KQL ``make-graph`` + ``graph-match`` for fixed-length path patterns
    — the relational core of graph queries, Spark-first: each hop is one
    hash equi-join on the node key, so ``(n0)-[]->(n1)<-[]-(n2)`` is two
    joins, not a graph runtime. ``directions`` gives each hop's arrow
    (``"fwd"`` = src→dst, ``"rev"`` = dst→src), so V-shapes and chains
    both express. Returns one row per matched path with columns
    ``n0 … nk``; ``distinct_nodes`` adds KQL graph-match's default
    no-repeated-node semantics (pairwise ≠ filters — patterns are short
    by construction).

    ``max_degree`` is the hub valve, same argument as the LSH hot-bucket
    cap: a hub of degree d contributes d^hops paths, so one celebrity
    node makes the join output super-linear. Nodes whose (undirected)
    degree exceeds the cap are dropped from the EDGE set before matching
    — the degree aggregate is node-sized, tiny next to the paths it
    prevents. ``None`` = exact (the oracle-checked configuration).
    """
    if not directions:
        raise ValueError("directions must name at least one hop")
    e = edges.select(
        F.col(src_col).alias("s"), F.col(dst_col).alias("d")
    ).distinct()
    if max_degree is not None:
        deg = (
            e.select(F.col("s").alias("n"))
            .unionAll(e.select(F.col("d").alias("n")))
            .groupBy("n")
            .agg(F.count(F.lit(1)).alias("_deg"))
            .filter(F.col("_deg") > max_degree)
            .select("n")
        )
        e = e.join(
            deg.withColumnRenamed("n", "s"), "s", "left_anti"
        ).join(deg.withColumnRenamed("n", "d"), "d", "left_anti")
    cur = None
    for i, dirn in enumerate(directions):
        if dirn == "fwd":
            step = e.select(F.col("s").alias(f"n{i}"), F.col("d").alias(f"n{i + 1}"))
        elif dirn == "rev":
            step = e.select(F.col("d").alias(f"n{i}"), F.col("s").alias(f"n{i + 1}"))
        else:
            raise ValueError(f"direction must be 'fwd' or 'rev', got {dirn!r}")
        cur = step if cur is None else cur.join(step, f"n{i}")
    if distinct_nodes:
        k = len(directions) + 1
        for i in range(k):
            for j in range(i + 1, k):
                cur = cur.filter(F.col(f"n{i}") != F.col(f"n{j}"))
    return cur


#: one 0000 group per missing position in a '::' expansion
_IPV6_GROUP_RE = r"^[0-9A-Fa-f]{1,4}$"


def parse_ipv6(col: Column | str) -> Column:
    """KQL ``parse_ipv6(str)`` → the canonical lowercase 32-hex-digit form
    (8 groups zero-padded, colons removed), null for malformed input.
    Handles one ``::`` compression anywhere (leading/trailing/middle);
    embedded-IPv4 tails are not supported (documented subset). Pure
    string HOFs — no UDF; the canonical form makes ``ipv6_compare`` plain
    string comparison and prefix matching a substring test."""
    c = F.trim(_c(col))
    has_dc = c.contains("::")
    # '::' at most once
    dc_ok = F.size(F.split(c, "::", -1)) <= 2
    left_raw = F.when(has_dc, F.split(c, "::", -1).getItem(0)).otherwise(c)
    right_raw = F.when(has_dc, F.split(c, "::", -1).getItem(1)).otherwise(F.lit(""))
    # An empty SIDE is legal (leading/trailing '::'); an empty GROUP inside
    # a side (stray ':', as in 'a:::b' whose right side is ':b') is not —
    # so split without filtering and let the per-group regex reject ''.
    empty_arr = F.array().cast("array<string>")
    side = lambda x: F.when(x == "", empty_arr).otherwise(  # noqa: E731
        F.split(x, ":", -1)
    )
    lg, rg = side(left_raw), side(right_raw)
    n_missing = F.lit(8) - F.size(lg) - F.size(rg)
    groups = F.when(
        has_dc,
        F.concat(
            lg,
            F.transform(
                F.sequence(F.lit(1), F.greatest(n_missing, F.lit(0))),
                lambda _: F.lit("0"),
            ),
            rg,
        ),
    ).otherwise(lg)
    all_valid = F.forall(groups, lambda g: g.rlike(_IPV6_GROUP_RE))
    # empty groups from things like ':::' or 'a::b::c' already failed via
    # dc_ok / the filter; a bare '::' leaves 8 zero groups
    ok = (
        dc_ok
        & (F.size(groups) == 8)
        & all_valid
        & F.when(has_dc, n_missing >= 1).otherwise(F.lit(True))
    )
    canon = F.lower(
        F.array_join(F.transform(groups, lambda g: F.lpad(g, 4, "0")), "")
    )
    return F.when(ok, canon)


def ipv6_compare(a: Column | str, b: Column | str) -> Column:
    """KQL ``ipv6_compare`` — −1/0/1 on the canonical forms; null if
    either side is malformed."""
    ca, cb = parse_ipv6(a), parse_ipv6(b)
    return (
        F.when(ca.isNull() | cb.isNull(), F.lit(None).cast("int"))
        .when(ca < cb, F.lit(-1))
        .when(ca > cb, F.lit(1))
        .otherwise(F.lit(0))
    )


def ipv6_is_match(a: Column | str, b: Column | str, prefix_bits: int = 128) -> Column:
    """KQL ``ipv6_is_match(ip1, ip2, prefix)`` for nibble-aligned prefixes
    (prefix_bits divisible by 4 — covers the operational /48 /56 /64
    cases): equal canonical hex up to prefix_bits/4 digits."""
    if prefix_bits % 4:
        raise ValueError("ipv6_is_match supports nibble-aligned prefixes only")
    n = prefix_bits // 4
    ca, cb = parse_ipv6(a), parse_ipv6(b)
    return F.when(
        ca.isNotNull() & cb.isNotNull(),
        F.substring(ca, 1, n) == F.substring(cb, 1, n),
    )


def unixtime_seconds_todatetime(col: Column | str) -> Column:
    """KQL ``unixtime_seconds_todatetime`` — epoch seconds → timestamp."""
    return F.timestamp_seconds(_c(col))


def unixtime_milliseconds_todatetime(col: Column | str) -> Column:
    """KQL ``unixtime_milliseconds_todatetime``."""
    return F.timestamp_millis(_c(col).cast("long"))


def make_datetime(y, mo, d, h=None, mi=None, s=None) -> Column:
    """KQL ``make_datetime(y, m, d[, h, m, s])``."""
    zero = F.lit(0)
    return F.make_timestamp(
        _c(y), _c(mo), _c(d),
        _c(h) if h is not None else zero,
        _c(mi) if mi is not None else zero,
        _c(s) if s is not None else zero.cast("double"),
    )


def week_of_year(col: Column | str) -> Column:
    """KQL ``week_of_year`` — ISO 8601 week number (Spark's weekofyear IS
    ISO)."""
    return F.weekofyear(_c(col))


def monthofyear(col: Column | str) -> Column:
    """KQL ``monthofyear``."""
    return F.month(_c(col))


def hourofday(col: Column | str) -> Column:
    """KQL ``hourofday``."""
    return F.hour(_c(col))


def dayofyear(col: Column | str) -> Column:
    """KQL ``dayofyear``."""
    return F.dayofyear(_c(col))


def getyear(col: Column | str) -> Column:
    """KQL ``getyear``."""
    return F.year(_c(col))


def getmonth(col: Column | str) -> Column:
    """KQL ``getmonth``."""
    return F.month(_c(col))


def endofyear(col: Column | str) -> Column:
    """KQL ``endofyear`` — last microsecond of the year (KQL convention:
    start of next year minus 1 tick; at micro resolution, −1 µs)."""
    nxt = F.add_months(F.trunc(_c(col), "year"), 12)
    return F.timestamp_micros(F.unix_micros(nxt.cast("timestamp")) - 1)


def datetime_diff(period: str, a: Column | str, b: Column | str) -> Column:
    """KQL ``datetime_diff(period, datetime1, datetime2)`` — the number of
    period BOUNDARIES crossed between b and a (not elapsed full periods):
    ``datetime_diff('year', 2015-01-01, 2014-12-31) == 1``. Supported:
    year, quarter, month, week, day, hour, minute, second. All engine-
    replayable integer arithmetic on calendar fields / epoch units; weeks
    use KQL's Sunday boundary (via the ``startofweek`` convention).
    """
    ca, cb = _c(a), _c(b)
    p = period.lower()
    if p == "year":
        return (F.year(ca) - F.year(cb)).cast("long")
    if p == "quarter":
        return (
            (F.year(ca) - F.year(cb)) * 4 + (F.quarter(ca) - F.quarter(cb))
        ).cast("long")
    if p == "month":
        return (
            (F.year(ca) - F.year(cb)) * 12 + (F.month(ca) - F.month(cb))
        ).cast("long")
    if p == "week":
        # boundary = Sunday; datediff of the week-starts / 7
        sow = lambda c: F.date_sub(  # noqa: E731
            F.to_date(c), (F.dayofweek(c) - 1)
        )
        return (F.datediff(sow(ca), sow(cb)) / 7).cast("long")
    if p == "day":
        return F.datediff(F.to_date(ca), F.to_date(cb)).cast("long")
    if p in ("hour", "minute", "second"):
        unit = {"hour": 3600, "minute": 60, "second": 1}[p]
        floor_units = lambda c: F.floor(  # noqa: E731
            F.unix_micros(c) / F.lit(unit * 1_000_000)
        )
        return (floor_units(ca) - floor_units(cb)).cast("long")
    raise ValueError(f"unsupported datetime_diff period: {period}")


def indexof_regex(text: Column | str, pattern: str) -> Column:
    """KQL ``indexof_regex(source, regex)`` — 0-based offset of the first
    regex match, −1 when absent. Engine-replayable form: the length of the
    text before the first match (split-limit-2 prefix), guarded by an
    rlike existence test — identical construction in the DuckDB oracle."""
    c = _c(text)
    prefix_len = F.length(F.split(c, pattern, 2).getItem(0))
    return F.when(c.rlike(pattern), prefix_len.cast("long")).otherwise(F.lit(-1).cast("long"))


def has_any_index(text: Column | str, values: list[str]) -> Column:
    """KQL ``has_any_index(source, values)`` — 0-based index of the FIRST
    list element the text contains as a substring, −1 if none."""
    c = _c(text)
    arr = F.array(*[F.lit(v) for v in values])
    hits = F.filter(
        F.transform(arr, lambda v, i: F.when(c.contains(v), i).otherwise(F.lit(-1))),
        lambda x: x >= 0,
    )
    return F.when(F.size(hits) > 0, F.element_at(hits, 1).cast("long")).otherwise(
        F.lit(-1).cast("long")
    )


# ---- series digital filters (series_fir / series_iir / series_seasonal) ----


def series_fir(
    col: Column | str,
    coefs: list[float],
    normalize: bool = True,
    center: bool = False,
) -> Column:
    """KQL ``series_fir(series, filter, normalize, center)`` — finite
    impulse response filter over a packed series array.

    ``out[i] = Σ_j coefs[j] · x[i − j]`` (trailing; ``center=True``
    anchors the filter's midpoint on ``i``). Edges use the PARTIAL
    window: taps that fall outside the array are skipped, and with
    ``normalize=True`` the divisor is the sum of the taps actually used —
    the same edge behavior as ADX's moving-average example (a ramp-in,
    never a NaN head). The coefficient list is a Python literal, so the
    tap loop unrolls at plan-build time into one codegen'd expression per
    element — no nested lambda, no UDF.
    """
    c = _c(col)
    L = len(coefs)
    if L == 0:
        raise ValueError("series_fir needs at least one coefficient")
    half = (L - 1) // 2 if center else 0

    def _one(x: Column, i: Column) -> Column:
        p = i + 1 + half  # 1-based anchor position of tap j=0
        s = F.lit(0.0)
        w = F.lit(0.0)
        for j, coef in enumerate(coefs):
            pos = p - j
            valid = (pos >= 1) & (pos <= F.size(c))
            s = s + F.when(
                valid, F.lit(float(coef)) * F.element_at(c, pos).cast("double")
            ).otherwise(F.lit(0.0))
            w = w + F.when(valid, F.lit(float(coef))).otherwise(F.lit(0.0))
        return s / w if normalize else s

    return F.transform(c, _one)


def series_iir(col: Column | str, b: list[float], a: list[float]) -> Column:
    """KQL ``series_iir(series, b, a)`` — infinite impulse response filter:
    ``y[i] = (Σ_j b[j]·x[i−j] − Σ_{j≥1} a[j]·y[i−j]) / a[0]``.

    Inherently sequential (each output feeds the next), so it is computed
    as ONE left fold over the positions, carrying the output array built
    so far — still a single codegen'd expression per row, no UDF and no
    explode. The per-step ``concat`` copies the accumulator, so the cost
    is O(n²) in the series length: right for make-series outputs (tens to
    thousands of points). For very long series, explode and use the
    prefix-sum trick of ``series_fit_2lines_df`` instead.

    Both tap loops unroll in Python (b, a are literals), accumulating
    left-to-right — the DuckDB oracle replays the identical float
    operation order via a recursive CTE.
    """
    c = _c(col)
    if not a or not b:
        raise ValueError("series_iir needs non-empty a and b")
    a0 = float(a[0])

    def _step(acc: Column, p: Column) -> Column:
        bsum = F.lit(0.0)
        for j, coef in enumerate(b):
            pos = p - j
            bsum = bsum + F.when(
                pos >= 1, F.lit(float(coef)) * F.element_at(c, pos).cast("double")
            ).otherwise(F.lit(0.0))
        asum = F.lit(0.0)
        for j, coef in enumerate(a[1:], start=1):
            pos = p - j
            asum = asum + F.when(
                pos >= 1, F.lit(float(coef)) * F.element_at(acc, pos)
            ).otherwise(F.lit(0.0))
        y = (bsum - asum) / F.lit(a0)
        return F.concat(acc, F.array(y))

    return F.aggregate(
        F.sequence(F.lit(1), F.size(c)),
        F.array().cast("array<double>"),
        _step,
    )


def series_seasonal(col: Column | str, period: int) -> Column:
    """KQL ``series_seasonal(series, period)`` — the seasonal component:
    every element is replaced by the MEDIAN of all elements sharing its
    phase (``index mod period``), matching ADX's definition (even-sized
    phases interpolate the two middle values, the classical median that
    DuckDB's ``median()`` replays exactly).

    Phase medians are computed once per row with one indexed ``filter`` +
    ``array_sort`` + middle pick per phase (the phase loop unrolls in
    Python — period is a literal), then broadcast back positionally.
    Median needs no float summation, so the oracle replay is order-free.
    """
    c = _c(col)
    if period < 1:
        raise ValueError("period must be >= 1")
    medians = []
    for p in range(period):
        vals = F.array_sort(F.filter(c, lambda x, i: i % period == F.lit(p)))
        n = F.size(vals)
        lo = F.floor((n + F.lit(1)) / F.lit(2)).cast("int")
        hi = F.floor((n + F.lit(2)) / F.lit(2)).cast("int")
        # period > series length leaves some phases EMPTY: lo==0 would make
        # element_at throw INVALID_INDEX_OF_ZERO and fail the whole job —
        # an empty phase yields NULL instead (the pre-median behavior).
        med = F.when(
            n > 0,
            (
                F.element_at(vals, F.greatest(lo, F.lit(1))).cast("double")
                + F.element_at(vals, F.greatest(hi, F.lit(1))).cast("double")
            )
            / F.lit(2.0),
        )
        medians.append(med)
    phase_medians = F.array(*medians)
    return F.transform(c, lambda x, i: F.element_at(phase_medians, i % period + 1))


def series_add(a: Column | str, b: Column | str) -> Column:
    """KQL ``series_add`` — element-wise sum of two aligned series."""
    return F.zip_with(_c(a), _c(b), lambda x, y: x.cast("double") + y.cast("double"))


def series_subtract(a: Column | str, b: Column | str) -> Column:
    """KQL ``series_subtract`` — element-wise difference."""
    return F.zip_with(_c(a), _c(b), lambda x, y: x.cast("double") - y.cast("double"))


def series_multiply(a: Column | str, b: Column | str) -> Column:
    """KQL ``series_multiply`` — element-wise product."""
    return F.zip_with(_c(a), _c(b), lambda x, y: x.cast("double") * y.cast("double"))


def series_divide(a: Column | str, b: Column | str) -> Column:
    """KQL ``series_divide`` — element-wise quotient; 0 denominators give
    NULL (KQL yields NaN/inf; NULL is the engine-portable encoding and
    what the oracle's NULLIF replays)."""
    return F.zip_with(
        _c(a),
        _c(b),
        lambda x, y: x.cast("double")
        / F.when(y.cast("double") != 0.0, y.cast("double")),
    )


def series_abs(col: Column | str) -> Column:
    """KQL ``series_abs`` — element-wise absolute value."""
    return F.transform(_c(col), lambda x: F.abs(x.cast("double")))


def series_sign(col: Column | str) -> Column:
    """KQL ``series_sign`` — element-wise sign (−1.0 / 0.0 / 1.0)."""
    return F.transform(_c(col), lambda x: F.signum(x.cast("double")))


def series_sum(col: Column | str) -> Column:
    """KQL ``series_sum`` — scalar sum of a series. Ascending-index left
    fold, so the oracle's ``sum(v ORDER BY idx)`` replays the identical
    float addition order."""
    return F.aggregate(
        _c(col), F.lit(0.0), lambda a, x: a + x.cast("double")
    )


def series_avg(col: Column | str) -> Column:
    """KQL ``series_avg`` — scalar mean (ordered-fold sum / length)."""
    c = _c(col)
    return series_sum(c) / F.size(c).cast("double")


def series_min(col: Column | str) -> Column:
    """KQL ``series_min``."""
    return F.array_min(_c(col)).cast("double")


def series_max(col: Column | str) -> Column:
    """KQL ``series_max``."""
    return F.array_max(_c(col)).cast("double")


def series_dot_product(a: Column | str, b: Column | str) -> Column:
    """KQL ``series_dot_product`` — Σ aᵢ·bᵢ as one ascending-index fold
    over the zipped pair array (oracle replays the same order)."""
    prods = F.zip_with(
        _c(a), _c(b), lambda x, y: x.cast("double") * y.cast("double")
    )
    return F.aggregate(prods, F.lit(0.0), lambda acc, v: acc + v)


def series_magnitude(col: Column | str) -> Column:
    """KQL ``series_magnitude`` — the L2 norm √(Σ xᵢ²)."""
    c = _c(col)
    return F.sqrt(series_dot_product(c, c))


def series_exp(col: Column | str) -> Column:
    """KQL ``series_exp`` — element-wise eˣ."""
    return F.transform(_c(col), lambda x: F.exp(x.cast("double")))


def series_log(col: Column | str) -> Column:
    """KQL ``series_log`` — element-wise natural log; non-positive input
    yields NULL (KQL NaN/−inf; NULL is the engine-portable encoding, the
    series_divide convention)."""
    return F.transform(
        _c(col),
        lambda x: F.when(x.cast("double") > 0.0, F.log(x.cast("double"))),
    )


def series_pow(a: Column | str, b: Column | str) -> Column:
    """KQL ``series_pow`` — element-wise aᵢ^bᵢ."""
    return F.zip_with(
        _c(a), _c(b), lambda x, y: F.pow(x.cast("double"), y.cast("double"))
    )


# ---- geo scalars (geohash + containment; geo_distance_2points above) ----

#: standard geohash base-32 alphabet (no a/i/l/o)
_GEOHASH32 = "0123456789bcdefghjkmnpqrstuvwxyz"


def _numc(v) -> Column:
    """Column | name | numeric literal → Column, PRESERVING the numeric
    type (``_lit_or_col`` casts to long — right for the bitwise scalars,
    silently truncating for coordinates)."""
    return F.lit(v) if isinstance(v, (int, float)) else _c(v)


def geo_point_in_circle(
    lon: Column | str,
    lat: Column | str,
    center_lon: float,
    center_lat: float,
    radius_m: float,
) -> Column:
    """KQL ``geo_point_in_circle(lon, lat, clon, clat, r)`` — true when the
    point lies within ``radius_m`` meters of the center (haversine, the
    same great-circle formula as ``geo_distance_2points``, so the
    containment test is exactly ``distance <= r`` under one float path).
    """
    d = geo_distance_2points(
        _numc(lon), _numc(lat), F.lit(center_lon), F.lit(center_lat)
    )
    return d <= F.lit(float(radius_m))


def _geohash_fold(lon: Column, lat: Column, bits: Column) -> Column:
    """Shared interval-halving fold: given a bit-source array (encode: one
    slot per output bit, value ignored; decode: the actual bits), walk the
    lat/lon interval halving and return the final struct
    (lalo, lahi, lolo, lohi, chs) where ``chs`` is the array of base-32
    character VALUES accumulated 5 bits at a time. Even global bit
    positions split longitude, odd split latitude — the geohash
    interleave.

    ⚠ The char values are folded INSIDE the aggregate (not mapped from a
    bits array afterwards) on purpose: referencing a lambda-bearing
    expression from inside another HOF lambda miscompiles (nested
    NamedLambdaVariable capture — observed wrong slices), so the result
    struct must only ever be consumed OUTSIDE lambda bodies or as a HOF
    *argument*."""
    init = F.struct(
        F.lit(-90.0).alias("lalo"),
        F.lit(90.0).alias("lahi"),
        F.lit(-180.0).alias("lolo"),
        F.lit(180.0).alias("lohi"),
        F.array().cast("array<int>").alias("chs"),
    )

    def step(acc: Column, item: Column) -> Column:
        i = item["i"]
        is_lon = i % 2 == 0
        lo = F.when(is_lon, acc["lolo"]).otherwise(acc["lalo"])
        hi = F.when(is_lon, acc["lohi"]).otherwise(acc["lahi"])
        mid = (lo + hi) / F.lit(2.0)
        # encode: derive the bit from the coordinate; decode: use the
        # supplied bit (item.b >= 0 marks decode mode)
        b = F.when(
            item["b"] >= 0, item["b"] == 1
        ).otherwise(F.when(is_lon, lon >= mid).otherwise(lat >= mid))
        new_lo = F.when(b, mid).otherwise(lo)
        new_hi = F.when(b, hi).otherwise(mid)
        bit = b.cast("int")
        chs = F.when(
            i % 5 == 0, F.concat(acc["chs"], F.array(bit))
        ).otherwise(
            F.concat(
                F.slice(acc["chs"], 1, F.size(acc["chs"]) - 1),
                F.array(F.element_at(acc["chs"], -1) * 2 + bit),
            )
        )
        return F.struct(
            F.when(is_lon, acc["lalo"]).otherwise(new_lo).alias("lalo"),
            F.when(is_lon, acc["lahi"]).otherwise(new_hi).alias("lahi"),
            F.when(is_lon, new_lo).otherwise(acc["lolo"]).alias("lolo"),
            F.when(is_lon, new_hi).otherwise(acc["lohi"]).alias("lohi"),
            chs.alias("chs"),
        )

    items = F.transform(
        bits, lambda b, i: F.struct(i.alias("i"), b.alias("b"))
    )
    return F.aggregate(items, init, step)


def geo_point_to_geohash(
    lon: Column | str, lat: Column | str, precision: int = 5
) -> Column:
    """KQL ``geo_point_to_geohash(longitude, latitude, accuracy)`` — the
    standard interleaved base-32 geohash, computed as ONE interval-halving
    left fold over the 5·precision bit positions (codegen, no UDF). Each
    5-bit group maps through the geohash alphabet. NULL for out-of-range
    coordinates (KQL returns empty; NULL is the engine-portable form).
    """
    lonc, latc = _numc(lon).cast("double"), _numc(lat).cast("double")
    nbits = 5 * precision
    placeholder = F.transform(
        F.sequence(F.lit(1), F.lit(nbits)), lambda _: F.lit(-1)
    )
    folded = _geohash_fold(lonc, latc, placeholder)
    b32 = F.split(F.lit(_GEOHASH32), "(?!^)")
    # folded["chs"] is the HOF *argument* here, never inside a lambda body
    # (see _geohash_fold's miscompilation warning)
    chars = F.transform(folded["chs"], lambda v: F.element_at(b32, v + 1))
    ok = (
        latc.isNotNull()
        & lonc.isNotNull()
        & (latc >= -90)
        & (latc <= 90)
        & (lonc >= -180)
        & (lonc <= 180)
    )
    return F.when(ok, F.array_join(chars, "")).otherwise(F.lit(None).cast("string"))


def geo_geohash_to_central_point(gh: Column | str) -> Column:
    """KQL ``geo_geohash_to_central_point(geohash)`` — decode a geohash to
    the center of its cell; returns ``struct(lon double, lat double)``
    (KQL returns a GeoJSON dynamic; the struct is the typed Spark form —
    read ``.lon`` / ``.lat``). Same interval-halving fold as the encoder,
    driven by the hash's bits; NULL for malformed input (bad alphabet
    chars or empty).
    """
    c = _c(gh)
    chars = F.filter(F.split(F.lower(c), "(?!^)"), lambda x: x != "")
    b32 = F.split(F.lit(_GEOHASH32), "(?!^)")
    vals = F.transform(chars, lambda ch: (F.array_position(b32, ch) - 1).cast("int"))
    valid = (F.size(chars) > 0) & F.forall(vals, lambda v: v >= 0)
    bits = F.flatten(
        F.transform(
            vals,
            lambda v: F.array(
                *[F.shiftright(v, k).bitwiseAND(F.lit(1)) for k in (4, 3, 2, 1, 0)]
            ),
        )
    )
    folded = _geohash_fold(F.lit(0.0), F.lit(0.0), bits)
    center = F.struct(
        ((folded["lolo"] + folded["lohi"]) / F.lit(2.0)).alias("lon"),
        ((folded["lalo"] + folded["lahi"]) / F.lit(2.0)).alias("lat"),
    )
    return F.when(valid, center)


# ---- parse_xml (xpath extraction form) ----


def _xml_ok(c: Column) -> Column:
    """Cheap well-formedness gate for the xpath scalars: input must start
    with an XML tag. Hive's xpath UDFs THROW on malformed XML (KQL's
    parse_xml returns null); this guard nulls the common garbage-input
    case (non-XML strings, empty, NULL). Malformed XML past the first
    byte still raises — documented divergence, the cost of staying on the
    codegen'd built-in instead of a per-row Python XML parser."""
    return c.isNotNull() & c.rlike(r"^\s*<")


def parse_xml_string(xml: Column | str, path: str) -> Column:
    """KQL ``parse_xml(x)`` + path access, string leaf — mapped to ONE
    xpath extraction (`xpath_string`), the Spark-idiomatic form: the KQL
    composition ``parse_xml(x).a.b`` never materializes the intermediate
    dynamic, it compiles straight to the path query."""
    c = _c(xml)
    return F.when(_xml_ok(c), F.xpath_string(c, F.lit(path)))


def parse_xml_long(xml: Column | str, path: str) -> Column:
    """KQL ``tolong(parse_xml(x).…)`` — xpath_long, NULL-guarded."""
    c = _c(xml)
    return F.when(_xml_ok(c), F.xpath_long(c, F.lit(path)))


def parse_xml_list(xml: Column | str, path: str) -> Column:
    """KQL ``parse_xml`` array access — all matches of ``path`` as
    ``array<string>`` (use ``…/text()`` for element text)."""
    c = _c(xml)
    return F.when(_xml_ok(c), F.xpath(c, F.lit(path)))


# ---- scalar batch 6: type/float introspection, trim sides, array splits ----


def isfinite(col: Column | str) -> Column:
    """KQL ``isfinite`` — real and neither NaN nor ±inf; null input → false
    (KQL semantics: null is not finite)."""
    c = _c(col).cast("double")
    return c.isNotNull() & ~F.isnan(c) & (c != F.lit(float("inf"))) & (
        c != F.lit(float("-inf"))
    )


def isinf(col: Column | str) -> Column:
    """KQL ``isinf`` — ±infinity (false for NaN/null)."""
    c = _c(col).cast("double")
    return c.isNotNull() & (
        (c == F.lit(float("inf"))) | (c == F.lit(float("-inf")))
    )


def gettype(col: str) -> Column:
    """KQL ``gettype`` — the value's runtime type name as KQL spells it.
    Spark columns are statically typed, so the static Catalyst type (via
    SQL ``typeof``) is remapped to the KQL spelling with one bounded CASE
    chain; runtime nulls report ``null`` as KQL does. Takes the column
    NAME (the typeof expression is resolved against the schema)."""
    _KQL_TYPE = {
        "bigint": "long", "int": "long", "smallint": "long", "tinyint": "long",
        "double": "real", "float": "real", "string": "string",
        "boolean": "bool", "timestamp": "datetime", "date": "datetime",
        "binary": "blob",
    }
    t = F.expr(f"typeof({col})")
    out = t
    for spark_name, kql_name in sorted(_KQL_TYPE.items()):
        out = F.when(t == spark_name, F.lit(kql_name)).otherwise(out)
    out = F.when(t.startswith("decimal"), F.lit("decimal")).otherwise(out)
    out = F.when(
        t.startswith("array") | t.startswith("map") | t.startswith("struct"),
        F.lit("dynamic"),
    ).otherwise(out)
    return F.when(F.col(col).isNull(), F.lit("null")).otherwise(out)


def trim_start(pattern: str, col: Column | str) -> Column:
    """KQL ``trim_start(regex, s)`` — strip ONE leading match."""
    return F.regexp_replace(_c(col), f"^(?:{pattern})", "")


def trim_end(pattern: str, col: Column | str) -> Column:
    """KQL ``trim_end(regex, s)`` — strip ONE trailing match."""
    return F.regexp_replace(_c(col), f"(?:{pattern})$", "")


def array_rotate_right(col: Column | str, n: int) -> Column:
    """KQL ``array_rotate_right`` — rotate by n (negative rotates left;
    any magnitude normalizes mod the array length; empty arrays pass
    through)."""
    c = _c(col)
    sz = F.size(c)
    k = ((F.lit(int(n)) % sz) + sz) % sz  # normalized right-rotation
    j = (sz - k) % sz  # equivalent left-rotation
    return F.when(sz <= 0, c).otherwise(
        F.concat(F.slice(c, j + 1, sz - j), F.slice(c, 1, j))
    )


def array_split(col: Column | str, indices: list[int]) -> Column:
    """KQL ``array_split(arr, indices)`` — split into consecutive slices at
    the given 0-based indices. Out-of-range indices clamp; returns
    array<array<element>>. Indices are a Python literal list, so the
    bounds build WITHOUT nested HOFs (a lambda-bearing bounds expression
    referenced inside the slicing lambda miscompiles — see
    ``_geohash_fold``)."""
    c = _c(col)
    n = F.size(c)
    bounds = F.array(
        F.lit(0),
        *[F.greatest(F.least(F.lit(int(i)), n), F.lit(0)) for i in indices],
        n,
    )
    return F.transform(
        F.sequence(F.lit(1), F.lit(len(indices) + 1)),
        lambda j: F.slice(
            c,
            F.element_at(bounds, j) + 1,
            F.element_at(bounds, j + 1) - F.element_at(bounds, j),
        ),
    )


# ---- fork / materialize / ipv4_lookup ----


def materialize(df: DataFrame, mode: str = "persist") -> DataFrame:
    """KQL ``materialize(expr)`` — pin a subquery result so multiple
    consumers share one evaluation. Thin alias over ``pinning.pin`` (lazy
    persist: lineage kept, cache filled by the first consumer) — the
    Spark-idiomatic form of Kusto's materialized subquery cache."""
    from kusto_pre_forge_spark.pinning import pin

    return pin(df, mode)


def fork(
    df: DataFrame, branches: dict[str, "object"], mode: str = "persist"
) -> dict[str, DataFrame]:
    """KQL ``fork (name1 = subquery1) (name2 = subquery2) …`` — run
    several subqueries over ONE evaluation of the source. The source is
    materialized (see :func:`materialize`) and each branch callable
    receives it; returns {name: DataFrame}. The scan + upstream pipeline
    runs once, not once per branch — exactly the plan-sharing KQL's fork
    promises."""
    src = materialize(df, mode)
    return {name: fn(src) for name, fn in branches.items()}


def ipv4_lookup(
    df: DataFrame,
    lookup: DataFrame,
    ip_col: str,
    cidr_col: str = "network",
) -> DataFrame:
    """KQL ``evaluate ipv4_lookup(LookupTable, ip, network)`` — annotate
    each row with the lookup rows whose CIDR block contains its IP
    (longest-prefix NOT applied — KQL emits every matching network, and
    so does this; add a per-ip argmax on ``_prefix_len`` for LPM).

    Scale shape: the lookup side is parsed once into [lo, hi] long bounds
    and BROADCAST (a CIDR table is KBs–MBs against a TB fact stream), so
    the containment test is a broadcast non-equi join — two long
    comparisons per (row, block) candidate, never a shuffle of the fact
    side. Unparseable IPs or networks simply don't match (KQL drops them
    from the lookup result too)."""
    sfx = F.split(F.col(cidr_col), "/")
    base = parse_ipv4(sfx[0])
    bits = F.when(
        F.col(cidr_col).contains("/"), sfx[1].cast("int")
    ).otherwise(F.lit(32))
    ok = base.isNotNull() & bits.isNotNull() & (bits >= 0) & (bits <= 32)
    # F.shiftleft needs a literal shift count; 2^(32-p) via pow stays exact
    # for p in [0, 32] (well under 2^53)
    span = F.pow(F.lit(2.0), (32 - bits).cast("double")).cast("long") - 1
    lo = base - (base % (span + 1))
    lk = lookup.withColumn("_kpf_lo", F.when(ok, lo)).withColumn(
        "_kpf_hi", F.when(ok, lo + span)
    ).withColumn("_prefix_len", F.when(ok, bits.cast("long")))
    v = parse_ipv4(ip_col)
    t = df.withColumn("_kpf_ip", v)
    out = t.join(
        F.broadcast(lk),
        (F.col("_kpf_ip") >= F.col("_kpf_lo"))
        & (F.col("_kpf_ip") <= F.col("_kpf_hi")),
        "inner",
    )
    return out.drop("_kpf_ip", "_kpf_lo", "_kpf_hi")


# ---- compression codecs (zlib / gzip ⇄ base64) ----
# No JVM builtin exposes zlib/gzip as a scalar, so these are Arrow-batched
# pandas_udfs — the sanctioned Python path (vectorized per batch, never
# per-row py4j). Malformed input → NULL, matching KQL's empty-on-error.


def _null_safe_udf(transform, name: str, return_type: str = "string"):
    """Series-to-Series pandas_udf applying ``transform`` to each non-null
    value; a value ``transform`` raises on becomes NULL."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def one(v):
        if v is None:
            return None
        try:
            return transform(v)
        except Exception:
            return None

    def batch(s):
        return s.map(one)

    batch.__name__ = name
    # the hints as classes, not the strings `from __future__ import
    # annotations` leaves: "pd.Series" would not resolve in this module's
    # globals, where pandas is not imported
    batch.__annotations__ = {"s": pd.Series, "return": pd.Series}
    return pandas_udf(batch, return_type)


def zlib_compress_to_base64_string(col: Column | str) -> Column:
    """KQL ``zlib_compress_to_base64_string`` — deflate(level 6) + b64."""
    import base64
    import zlib

    f = _null_safe_udf(
        lambda v: base64.b64encode(zlib.compress(v.encode("utf-8"), 6)).decode(),
        "zlib_b64",
    )
    return f(_c(col))


def zlib_decompress_from_base64_string(col: Column | str) -> Column:
    """KQL ``zlib_decompress_from_base64_string`` — b64 → inflate → utf-8;
    NULL on bad base64 / bad stream (KQL returns empty)."""
    import base64
    import zlib

    f = _null_safe_udf(
        lambda v: zlib.decompress(base64.b64decode(v, validate=True)).decode("utf-8"),
        "zlib_unb64",
    )
    return f(_c(col))


def gzip_compress_to_base64_string(col: Column | str) -> Column:
    """KQL ``gzip_compress_to_base64_string`` — gzip(mtime pinned to 0 so
    the output is DETERMINISTIC — the stock gzip header embeds wall-clock
    time, which would break replay) + b64."""
    import base64
    import gzip
    import io

    def enc(v: str) -> str:
        buf = io.BytesIO()
        with gzip.GzipFile(fileobj=buf, mode="wb", mtime=0) as g:
            g.write(v.encode("utf-8"))
        return base64.b64encode(buf.getvalue()).decode()

    return _null_safe_udf(enc, "gzip_b64")(_c(col))


def gzip_decompress_from_base64_string(col: Column | str) -> Column:
    """KQL ``gzip_decompress_from_base64_string`` — b64 → gunzip → utf-8;
    NULL on malformed input."""
    import base64
    import gzip

    f = _null_safe_udf(
        lambda v: gzip.decompress(base64.b64decode(v, validate=True)).decode("utf-8"),
        "gzip_unb64",
    )
    return f(_c(col))


def geo_point_in_polygon(
    lon: Column | str, lat: Column | str, polygon: list[tuple[float, float]]
) -> Column:
    """KQL ``geo_point_in_polygon(lon, lat, polygon)`` — ray-casting test
    against a Python-literal (lon, lat) ring (no closing repeat needed).
    The edge loop unrolls at plan-build time into one codegen'd crossing
    count — division-only arithmetic, so any replaying engine computes
    bit-identical results (no libm). Boundary points follow the standard
    half-open crossing rule. NULL coordinates → false."""
    if len(polygon) < 3:
        raise ValueError("polygon needs at least 3 vertices")
    px = _numc(lon).cast("double")
    py = _numc(lat).cast("double")
    crossings = F.lit(0)
    n = len(polygon)
    for i in range(n):
        x1, y1 = polygon[i]
        x2, y2 = polygon[(i + 1) % n]
        x1c, y1c = F.lit(float(x1)), F.lit(float(y1))
        x2c, y2c = F.lit(float(x2)), F.lit(float(y2))
        straddles = (y1c > py) != (y2c > py)
        xcross = (x2c - x1c) * (py - y1c) / (y2c - y1c) + x1c
        crossings = crossings + F.when(
            straddles & (px < xcross), 1
        ).otherwise(0)
    return px.isNotNull() & py.isNotNull() & (crossings % 2 == 1)


def mv_expand_itemindex(
    df: DataFrame, col: str, index_name: str = "item_index", to: str | None = None
) -> DataFrame:
    """KQL ``mv-expand with_itemindex=ix c`` — explode with the element's
    0-based position carried alongside (posexplode; empty/null arrays drop
    rows, matching plain mv-expand)."""
    out = to or col
    others = [c for c in df.columns if c != col]
    return df.select(
        *others, F.posexplode(F.col(col)).alias(index_name, out)
    ).withColumn(index_name, F.col(index_name).cast("long"))


def pack_all(df: DataFrame, *, exclude: Sequence[str] = ()) -> Column:
    """KQL ``pack_all()`` — the whole row as a property bag. Emitted as
    ``to_json(struct(cols...))`` in the DataFrame's column order (KQL's
    bag order is also declaration order), so a replaying engine building
    the same-ordered struct serializes identically."""
    cols = [c for c in df.columns if c not in set(exclude)]
    return F.to_json(F.struct(*[F.col(c) for c in cols]))


def series_cosine_similarity(a: Column | str, b: Column | str) -> Column:
    """KQL ``series_cosine_similarity(s1, s2)`` — dot/(|a|·|b|) over two
    aligned packed series, one zip_with + three left folds (deterministic
    addition order; the oracle replays ordered sums)."""
    from kusto_pre_forge_spark.operators.similarity import cosine

    return cosine(_c(a), _c(b))


def parse_path(col: Column | str) -> Column:
    """KQL ``parse_path(path)`` — decompose a file path into a struct
    (Scheme, RootPath, DirectoryPath, DirectoryName, Filename, Extension,
    AlternateDataStreamName omitted — NTFS-only). Handles / and \\
    separators; pure regexp codegen."""
    c = _c(col)
    norm = F.regexp_replace(c, r"\\", "/")
    # '://' required — a bare 'C:' drive letter is a RootPath, not a scheme
    scheme = F.regexp_extract(c, r"^([A-Za-z][A-Za-z0-9+.-]*)://", 1)
    root = F.regexp_extract(norm, r"^([A-Za-z]:|/)", 1)
    dirpath = F.regexp_extract(norm, r"^(.*)/[^/]*$", 1)
    dirname = F.regexp_extract(dirpath, r"([^/]+)$", 1)
    filename = F.regexp_extract(norm, r"([^/]*)$", 1)
    ext = F.regexp_extract(filename, r"\.([^.]+)$", 1)
    return F.struct(
        scheme.alias("Scheme"),
        root.alias("RootPath"),
        dirpath.alias("DirectoryPath"),
        dirname.alias("DirectoryName"),
        filename.alias("Filename"),
        ext.alias("Extension"),
    )


def unicode_codepoints_from_string(col: Column | str) -> Column:
    """KQL ``unicode_codepoints_from_string`` — array<int> of the BMP
    codepoints (char-wise ``ascii``; surrogate pairs come back as two
    UTF-16 units — the KQL behavior for non-BMP differs, documented)."""
    chars = F.filter(F.split(_c(col), "(?!^)"), lambda x: x != "")
    return F.transform(chars, lambda ch: F.ascii(ch))


def unicode_codepoints_to_string(col: Column | str) -> Column:
    """KQL ``unicode_codepoints_to_string`` — codepoint array → string
    (``char`` per element, one concat fold)."""
    return F.aggregate(
        _c(col),
        F.lit(""),
        lambda acc, x: F.concat(acc, F.char(x.cast("long"))),
    )


def dcount_intersect(
    df: DataFrame, key_col: str, group_col: str, groups: list[str]
) -> DataFrame:
    """KQL ``evaluate dcount_intersect(hll1, hll2, …)`` — distinct keys in
    the PROGRESSIVE intersection of the groups: count(keys in g1),
    count(keys in g1∩g2), count(keys in g1∩g2∩g3), … KQL estimates this
    from HLL sketches; here the exact form is one distinct-pair aggregate
    (map-side combined, |keys| rows after dedup) + one membership-bitmap
    aggregate — affordable because the shuffle carries (key, group) pairs
    once each, and exactness matches the engine's exact-dcount contract.

    Returns one row: s0, s1, … sN−1 (KQL's column shape).
    """
    pairs = (
        df.select(F.col(key_col).alias("_k"), F.col(group_col).alias("_g"))
        .where(F.col("_g").isin(list(groups)))
        .distinct()
    )
    sets = pairs.groupBy("_k").agg(F.collect_set("_g").alias("_gs"))
    agg_cols = []
    for i in range(len(groups)):
        prefix = groups[: i + 1]
        member = F.forall(
            F.array(*[F.lit(g) for g in prefix]),
            lambda g: F.array_contains(F.col("_gs"), g),
        )
        agg_cols.append(
            F.sum(F.when(member, 1).otherwise(0)).cast("long").alias(f"s{i}")
        )
    return sets.agg(*agg_cols)


def _ipv4_candidates(col: Column) -> Column:
    """Whitespace-delimited dotted-quad candidates in the text."""
    return F.regexp_extract_all(
        col, F.lit(r"(?:(?<=^)|(?<=\s))((?:\d{1,3}\.){3}\d{1,3})(?=\s|$)"), 1
    )


def has_ipv4(col: Column | str) -> Column:
    """KQL ``has_ipv4(text)`` — true when the text contains a VALID,
    properly delimited IPv4 literal (every octet ≤ 255). Codegen:
    regexp_extract_all + an exists() octet check — no UDF."""
    c = _c(col)
    return F.exists(
        _ipv4_candidates(c),
        lambda ip: F.forall(F.split(ip, r"\."), lambda p: p.cast("int") <= 255),
    )


def has_ipv4_prefix(col: Column | str, prefix: str) -> Column:
    """KQL ``has_ipv4_prefix(text, prefix)`` — a valid delimited IPv4
    literal starts with the given prefix string."""
    c = _c(col)
    return F.exists(
        _ipv4_candidates(c),
        lambda ip: F.forall(F.split(ip, r"\."), lambda p: p.cast("int") <= 255)
        & ip.startswith(prefix),
    )


def invoke(df: DataFrame, fn, *args, **kwargs) -> DataFrame:
    """KQL ``T | invoke f(args)`` — apply a stored function to the tabular
    input. Functions are plain Python callables taking (df, *args)."""
    return fn(df, *args, **kwargs)


def consume(df: DataFrame) -> int:
    """KQL ``consume`` — run the query, discard the output, return the
    row count (the UniversalSink analogue; ref: EtlRun.cs sink wiring)."""
    return df.count()


def as_view(df: DataFrame, name: str) -> DataFrame:
    """KQL ``T | as Name`` — bind the tabular expression to a name usable
    in later ``spark.sql`` text (a temp view), returning df unchanged."""
    df.createOrReplaceTempView(name)
    return df


def graph_match_var(
    edges: DataFrame,
    min_hops: int,
    max_hops: int,
    src_col: str = "src",
    dst_col: str = "dst",
    distinct_nodes: bool = True,
    max_degree: int | None = None,
) -> DataFrame:
    """KQL graph-match variable-length pattern ``(a)-[e*min..max]->(b)``:
    the union of the fixed-length forward chains, labeled with ``hops``.
    Each length is its own join pipeline (`graph_match_path`), so the
    plan is max_hops−min_hops+1 independent hash-join chains unioned —
    no iteration state, and the hub valve applies per length. Returns
    (n_start, n_end, hops)."""
    if not 1 <= min_hops <= max_hops:
        raise ValueError("need 1 <= min_hops <= max_hops")
    out = None
    for k in range(min_hops, max_hops + 1):
        p = graph_match_path(
            edges, ["fwd"] * k, src_col, dst_col, distinct_nodes, max_degree
        )
        leg = p.select(
            F.col("n0").alias("n_start"),
            F.col(f"n{k}").alias("n_end"),
            F.lit(k).cast("long").alias("hops"),
        )
        out = leg if out is None else out.unionByName(leg)
    return out


def graph_shortest_paths(
    edges: DataFrame,
    sources: list,
    src_col: str = "src",
    dst_col: str = "dst",
    max_hops: int = 20,
) -> DataFrame:
    """KQL ``graph-shortest-paths`` (unweighted): hop distance from the
    nearest source to every reachable node. Frontier-relaxation BFS as a
    bounded driver loop — the same shape as ``connected_components``:
    each round is one hash join (frontier × edges) + one min-combine
    aggregate, lineage truncated per round (lazy localCheckpoint, the
    convergence checksum materializes it), rounds bounded by the graph
    diameter and ``max_hops``. Nothing driver-sized moves: convergence is
    a 1-row count/checksum per round.

    Returns (node, dist). Distances cap at ``max_hops`` (unreached nodes
    are absent, as in KQL).
    """
    e = edges.select(
        F.col(src_col).cast("long").alias("s"), F.col(dst_col).cast("long").alias("d")
    ).distinct().localCheckpoint(eager=True)
    spark = edges.sparkSession
    dist = spark.createDataFrame(
        [(int(x), 0) for x in sources], "node long, dist int"
    )

    def checksum(df: DataFrame):
        row = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.expr("bit_xor(xxhash64(node, dist))").alias("x"),
        ).collect()[0]
        return row["n"], row["x"]

    prev = None
    for hop in range(max_hops):
        relaxed = (
            dist.join(e, dist["node"] == e["s"])
            .select(F.col("d").alias("node"), (F.col("dist") + 1).alias("dist"))
        )
        dist = (
            dist.unionByName(relaxed)
            .groupBy("node")
            .agg(F.min("dist").alias("dist"))
            .localCheckpoint(eager=False)
        )
        cur = checksum(dist)
        if cur == prev:
            break
        prev = cur
    return dist


def graph_mark_components(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    max_iterations: int = 16,
) -> DataFrame:
    """KQL ``graph-mark-components`` — label every node with its weakly
    connected component (component id = min node id, KQL's stable-label
    convention). Thin façade over the dedup family's alternating
    large-star/small-star ``connected_components`` (O(log n) rounds,
    per-round lineage truncation) so the KQL graph surface and the dedup
    cluster resolver share one implementation. Returns (node, component).
    """
    from .dedup import connected_components

    labels = connected_components(
        edges, src_col=src_col, dst_col=dst_col, max_iterations=max_iterations
    ).select(F.col("id").alias("node"), F.col("cluster_id").alias("component"))
    # the dedup CC drops self-loops (a self-pair is meaningless for
    # duplicate resolution) — KQL keeps every node, so nodes that only
    # self-loop (or are otherwise label-less) become their own component
    nodes = (
        edges.select(F.col(src_col).alias("node"))
        .unionByName(edges.select(F.col(dst_col).alias("node")))
        .distinct()
    )
    return nodes.join(labels, "node", "left").select(
        "node", F.coalesce(F.col("component"), F.col("node")).alias("component")
    )


def label_propagation(
    edges: DataFrame,
    n_iter: int = 4,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Community detection by SYNCHRONOUS label propagation (Raghavan et
    al. 2007, "Near linear time algorithm to detect community structures
    in large-scale networks") — the graph family's community member next
    to :func:`graph_mark_components` (which finds CONNECTED components;
    LPA splits a connected graph into densely-linked communities).

    Deterministic variant oracles can replay: every node starts labeled
    with its own id; each round, every node adopts the most frequent
    label among its neighbors with ties broken by the SMALLEST label,
    all nodes updating simultaneously (synchronous — the asynchronous
    variant is order-dependent and irreproducible across engines), for
    a FIXED ``n_iter`` rounds. Isolated nodes keep their own label.

    Plan per round: one edge⋈labels hash join + one map-side-combined
    (node, label) count + one per-node argmax aggregate — the PageRank
    cost shape. Each round ends in an eager localCheckpoint (the
    :func:`connected_components` contract): bounded lineage, and round
    N+1's shuffles read materialized round-N labels. Returns
    (node, label)."""
    sym = (
        edges.select(
            F.col(src_col).cast("long").alias("s"),
            F.col(dst_col).cast("long").alias("d"),
        )
        .unionByName(
            edges.select(
                F.col(dst_col).cast("long").alias("s"),
                F.col(src_col).cast("long").alias("d"),
            )
        )
        .distinct()
        .localCheckpoint(eager=True)  # feeds every round's join
    )
    nodes = (
        sym.select(F.col("s").alias("node"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    labels = nodes.withColumn("label", F.col("node"))
    for _ in range(int(n_iter)):
        msgs = sym.join(
            labels.withColumnRenamed("node", "d"), "d"
        ).select(F.col("s").alias("node"), "label")
        counts = msgs.groupBy("node", "label").agg(
            F.count(F.lit(1)).alias("_n")
        )
        winners = counts.groupBy("node").agg(
            F.expr("min_by(label, struct(-_n, label))").alias("label")
        )
        labels = (
            nodes.join(winners, "node", "left")
            .select(
                "node", F.coalesce("label", F.col("node")).alias("label")
            )
            # r15: lazy, not eager — the checkpoint call already flattens
            # the round's logical plan to a LogicalRDD, so the loop no
            # longer needs a per-round materialization job just to bound
            # lineage. All n_iter rounds execute back-to-back inside ONE
            # job at the caller's action (guide §2.6: the per-round
            # scheduler latency WAS the local cost — rounds are
            # data-bound at scale). Round arithmetic untouched.
            .localCheckpoint(eager=False)
        )
    return labels


def pagerank(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    weight_col: str | None = None,
    damping: float = 0.85,
    iterations: int = 10,
    handle_dangling: bool = True,
) -> DataFrame:
    """PageRank over an edge list — the link-authority score crawl
    pipelines use for host-level quality weighting (Common Crawl host
    ranks; the Brin & Page 1998 power iteration). Fixed ``iterations``
    (no convergence test) so the result is a pure function of the input —
    replayable by any engine unrolling the same rounds.

    ``weight_col`` weights out-edges (contribution ∝ w / Σw per source);
    None = uniform. ``handle_dangling=True`` redistributes the rank mass
    of sink nodes uniformly each round (Σrank stays 1); False drops it
    (the common simplification).

    Plan per round: ONE hash join (edges ⋈ ranks on src — at web scale
    pre-partition both on src so this co-locates) + one map-side-combined
    sum by dst + a broadcast of two scalar aggregates (dangling mass,
    node count). Lineage truncates every round (lazy localCheckpoint);
    driver traffic is the two 1-row scalars per round. Rounds are a fixed
    small constant — the classic O(iters × E) Pregel shape.

    Returns (node, rank) for every node appearing as src or dst.
    """
    from kusto_pre_forge_spark.pinning import pin as _pin

    e = edges.select(
        F.col(src_col).alias("s"),
        F.col(dst_col).alias("d"),
        (
            F.col(weight_col).cast("double")
            if weight_col is not None
            else F.lit(1.0)
        ).alias("w"),
    )
    # r15: the caller's edge frame is typically an expensive aggregate
    # (the benched query feeds a 4-way lineitem join); the out-weight
    # aggregate and the normalization join below both reference it, and
    # column pruning specializes the two subtrees past ReuseExchange —
    # pin so the upstream runs once (guide §2.4).
    e = _pin(e)
    outw = e.groupBy("s").agg(F.sum("w").alias("_outw"))
    e = (
        e.join(outw, "s")
        .select("s", "d", (F.col("w") / F.col("_outw")).alias("frac"))
        .localCheckpoint(eager=True)
    )
    nodes = (
        e.select(F.col("s").alias("node"))
        .unionByName(e.select(F.col("d").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    n_nodes = nodes.count()  # bounded driver scalar (node count)
    ranks = nodes.withColumn("rank", F.lit(1.0 / n_nodes))
    has_out = e.select(F.col("s").alias("node")).distinct()
    d = float(damping)
    # r15 NEGATIVE RESULT, kept honest: chaining the rounds lazily with
    # the dangling mass as an in-plan broadcast cross-join (one job for
    # the whole power iteration instead of one dm-collect job per round)
    # was measured and REVERTED — the per-round checkpoint RDDs compiled
    # via toRdd lose AQE's partition coalescing, and the round shuffles
    # ran at the static partition count (tasks 99 -> 563, warm 2.2 s ->
    # 3.3 s at sf0.1). The per-round 1-row collect keeps every round on
    # the adaptively-coalesced plan; at scale the 3-10 driver scalars per
    # query are noise.
    for _ in range(int(iterations)):
        if handle_dangling:
            dm = (
                ranks.join(has_out, "node", "left_anti")
                .agg(F.coalesce(F.sum("rank"), F.lit(0.0)).alias("m"))
                .collect()[0]["m"]
            )  # 1-row scalar per round
        else:
            dm = 0.0
        contribs = (
            ranks.join(e, ranks["node"] == e["s"])
            .select(F.col("d").alias("node"), (F.col("rank") * F.col("frac")).alias("c"))
            .groupBy("node")
            .agg(F.sum("c").alias("c"))
        )
        ranks = (
            nodes.join(contribs, "node", "left")
            .select(
                "node",
                (
                    F.lit((1.0 - d) / n_nodes)
                    + F.lit(d)
                    * (F.coalesce(F.col("c"), F.lit(0.0)) + F.lit(dm / n_nodes))
                ).alias("rank"),
            )
            # dangling mode: the next round's dm collect materializes the
            # lazy checkpoint; without it nothing would, so force eager —
            # otherwise lineage compounds across every iteration
            .localCheckpoint(eager=not handle_dangling)
        )
    return ranks


def startofyear(col: Column | str) -> Column:
    """KQL ``startofyear`` — midnight of Jan 1."""
    return F.trunc(_c(col), "year").cast("timestamp")


def startofquarter(col: Column | str) -> Column:
    """KQL ``startofquarter`` — midnight of the quarter's first day."""
    return F.trunc(_c(col), "quarter").cast("timestamp")


def endofquarter(col: Column | str) -> Column:
    """KQL ``endofquarter`` — last microsecond of the quarter (start of
    next quarter − 1 µs, the endofyear convention)."""
    nxt = F.add_months(F.trunc(_c(col), "quarter"), 3)
    return F.timestamp_micros(F.unix_micros(nxt.cast("timestamp")) - 1)


def endofweek(col: Column | str) -> Column:
    """KQL ``endofweek`` — last microsecond of the KQL (Sunday-anchored)
    week: startofweek + 7 days − 1 µs."""
    nxt = F.date_add(startofweek(_c(col)).cast("date"), 7)
    return F.timestamp_micros(F.unix_micros(nxt.cast("timestamp")) - 1)


def export_any(
    df: DataFrame,
    prefix: str,
    fmt: str = "parquet",
    size_limit_bytes: int | None = None,
    distribution: int | None = None,
    compression: str | None = None,
) -> None:
    """KQL ``.export to parquet|json|csv|tsv (prefix) with (...)`` — the
    full export-format surface (the reference only ever exercises csv;
    Kusto's command supports these formats). Same contracts as
    :func:`export_csv`: sizeLimit approximates via sampled average row
    width → ``maxRecordsPerFile``; ``distribution`` → repartition;
    compression maps to the format's codec option (gzip for text,
    snappy/zstd for parquet)."""
    fmt = fmt.lower()
    if fmt == "csv":
        return export_csv(df, prefix, size_limit_bytes, True, distribution)
    if fmt not in ("parquet", "json", "tsv", "orc"):
        raise ValueError(f"unsupported export format {fmt!r}")
    writer_df = df.repartition(distribution) if distribution else df
    opts: dict[str, str] = {}
    if size_limit_bytes:
        sample = df.limit(1000).select(
            F.sum(F.octet_length(F.concat_ws(",", *df.columns))).alias("b"),
            F.count(F.lit(1)).alias("n"),
        ).collect()[0]
        avg_row = (sample["b"] or 1) / max(sample["n"] or 1, 1) + 1
        opts["maxRecordsPerFile"] = str(max(int(size_limit_bytes / avg_row), 1))
    if compression:
        opts["compression"] = compression
    w = writer_df.write.mode("overwrite").options(**opts)
    if fmt == "tsv":
        w.option("sep", "\t").option("header", "true").csv(prefix)
    elif fmt == "json":
        w.json(prefix)
    elif fmt == "orc":
        w.orc(prefix)
    else:
        w.parquet(prefix)


def max_of(*cols: Column) -> Column:
    """KQL ``max_of(a, b, …)`` — row-wise maximum, nulls ignored
    (``greatest`` skips nulls unless every operand is null — the KQL
    contract)."""
    return F.greatest(*cols)


def min_of(*cols: Column) -> Column:
    """KQL ``min_of(a, b, …)`` — row-wise minimum, nulls ignored."""
    return F.least(*cols)


def isascii(col: Column | str) -> Column:
    """KQL ``isascii`` — every character in [0, 127]; null → false."""
    c = _c(col)
    return c.isNotNull() & c.rlike(r"^[\x00-\x7F]*$")


def todecimal(col: Column | str, precision: int = 28, scale: int = 10) -> Column:
    """KQL ``todecimal`` — 128-bit decimal conversion (null on overflow /
    unparsable, the to*-family convention; try_cast so ANSI mode can't
    fail the job on bad input)."""
    return _c(col).try_cast(f"decimal({precision},{scale})")


def reverse_kql(col: Column | str) -> Column:
    """KQL ``reverse`` — string reversal (codepoint-wise)."""
    return F.reverse(_c(col))


def extract_json(path: str, col: Column | str, cast_to: str | None = None) -> Column:
    """KQL ``extract_json(jsonPath, text[, typeof(T)])`` — one JSONPath
    read compiled to Catalyst ``get_json_object`` (codegen, no parse of
    the full document into a dynamic), optionally cast per the
    ``typeof`` argument."""
    out = F.get_json_object(_c(col), path)
    return out.cast(cast_to) if cast_to else out


def base64_decode_toarray(col: Column | str) -> Column:
    """KQL ``base64_decode_toarray`` — base64 → array of byte values
    (ints 0-255). Pure codegen: unbase64 then a per-byte hex fold; no
    UDF, no explode."""
    b = F.unbase64(_c(col))
    return F.transform(
        F.sequence(F.lit(1), F.octet_length(b)),
        lambda i: F.conv(F.hex(F.substring(b, i, F.lit(1))), 16, 10).cast("int"),
    )


def estimate_data_size(*cols: Column) -> Column:
    """KQL ``estimate_data_size(col1, …)`` — APPROXIMATE per-row payload
    bytes: Σ octet_length(string form), nulls contributing 0. KQL's own
    estimate is also type-heuristic, not storage-exact; this form is
    engine-replayable (documented approximation)."""
    total = F.lit(0)
    for c in cols:
        total = total + F.coalesce(F.octet_length(c.cast("string")), F.lit(0))
    return total.cast("long")


def format_ipv4_mask(col: Column | str, prefix: int) -> Column:
    """KQL ``format_ipv4_mask(ip, prefix)`` — the ip masked to its network
    address, rendered as 'a.b.c.d/prefix'; null for unparseable input."""
    if not 0 <= prefix <= 32:
        raise ValueError("prefix must be in [0, 32]")
    v = parse_ipv4(col)
    block = 1 << (32 - prefix)
    base = v - (v % F.lit(block)) if prefix < 32 else v
    return F.when(
        v.isNotNull(), F.concat(format_ipv4(base), F.lit(f"/{prefix}"))
    )


def column_ifexists(df: DataFrame, name: str, default: Column) -> Column:
    """KQL ``column_ifexists(name, default)`` — plan-time column presence
    test (KQL resolves it at bind time too): the named column when the
    input has it, else the default expression."""
    return F.col(name) if name in df.columns else default


def series_decompose_forecast(
    df: DataFrame,
    value: str,
    order: Column | str,
    by: list[str],
    period: int,
    points: int,
) -> DataFrame:
    """KQL ``series_decompose_forecast(series, points)`` in LONG form —
    extend each series ``points`` positions past its end with
    ``OLS trend + per-phase seasonal`` (the additive model of
    :func:`series_decompose`, with a LINE for the extrapolatable trend —
    a moving average has no value past the data).

    Determinism contract (same as series_decompose): every float
    reduction is an ORDER-FORCED fold over position-sorted collect_lists,
    so an external engine replays bit-identical sums with
    ``sum(x ORDER BY pos)``. Plan: one row_number window on the series
    key, one per-key aggregate (OLS sums via sorted fold), one per-phase
    aggregate of the line-detrended residuals, then ``points`` forecast
    rows exploded per key and a broadcastable phase join. Emits ONLY the
    forecast rows: (by…, position, forecast).
    """
    w = Window.partitionBy(*by).orderBy(_c(order))
    t = df.select(
        *by,
        (F.row_number().over(w) - 1).alias("_pos"),
        F.col(value).cast("double").alias("_v"),
    )
    arr = F.array_sort(
        F.collect_list(F.struct(F.col("_pos").alias("p"), F.col("_v").alias("v")))
    )
    stats = t.groupBy(*by).agg(arr.alias("_arr"))
    vs = F.transform(F.col("_arr"), lambda e: e["v"])
    n = F.size(F.col("_arr"))
    sy = F.aggregate(vs, F.lit(0.0), lambda a, x: a + x)
    syy = F.aggregate(vs, F.lit(0.0), lambda a, x: a + x * x)
    sxy = F.aggregate(
        F.col("_arr"), F.lit(0.0), lambda a, e: a + e["p"].cast("double") * e["v"]
    )
    slope, intercept, _, _ = _ols(n, sy, syy, sxy)
    stats = stats.select(
        *by,
        n.alias("_n"),
        slope.alias("_slope"),
        intercept.alias("_icept"),
    )
    # line-detrended residuals → per-phase means (order-forced fold)
    r = t.join(stats, by).withColumn(
        "_r",
        F.col("_v")
        - (F.col("_slope") * F.col("_pos").cast("double") + F.col("_icept")),
    )
    ph = r.groupBy(*by, (F.col("_pos") % period).alias("_phase")).agg(
        (
            F.aggregate(
                F.array_sort(
                    F.collect_list(
                        F.struct(F.col("_pos").alias("p"), F.col("_r").alias("r"))
                    )
                ),
                F.lit(0.0),
                lambda a, e: a + e["r"],
            )
            / F.count(F.lit(1)).cast("double")
        ).alias("_smean")
    )
    fc = stats.withColumn(
        "_j", F.explode(F.sequence(F.lit(0), F.lit(points - 1)))
    ).withColumn("position", (F.col("_n") + F.col("_j")).cast("long"))
    fc = fc.withColumn("_phase", F.col("position") % period).join(
        F.broadcast(ph), [*by, "_phase"], "left"
    )
    forecast = (
        F.col("_slope") * F.col("position").cast("double")
        + F.col("_icept")
        + F.coalesce(F.col("_smean"), F.lit(0.0))
    )
    return fc.select(*by, "position", forecast.alias("forecast"))


def make_list_if(col: Column | str, pred: Column, max_size: int | None = None) -> Column:
    """KQL ``make_list_if(col, pred[, max])`` — conditional collect; the
    output is SORTED for determinism (KQL's order is arrival order, which
    no distributed engine can replay — same contract as make_list here)."""
    c = F.array_sort(F.collect_list(F.when(pred, _c(col))))
    return F.slice(c, 1, max_size) if max_size else c


def make_set_if(col: Column | str, pred: Column, max_size: int | None = None) -> Column:
    """KQL ``make_set_if(col, pred[, max])`` — conditional distinct
    collect, sorted."""
    c = F.array_sort(F.collect_set(F.when(pred, _c(col))))
    return F.slice(c, 1, max_size) if max_size else c


def take_anyif(col: Column | str, pred: Column) -> Column:
    """KQL ``take_anyif(col, pred)`` — any value where pred holds; made
    deterministic as the MINIMUM matching value (the take_any contract
    here: any-value functions must replay identically across engines)."""
    return F.min(F.when(pred, _c(col)))


def percentiles_array(col: Column | str, *ps: float) -> Column:
    """KQL ``percentiles_array(col, p1, p2, …)`` — the exact interpolated
    percentiles as one array column."""
    return F.percentile(
        _c(col), F.array(*[F.lit(float(p) / 100.0) for p in ps])
    )


def edit_distance(a: Column | str, b: Column | str) -> Column:
    """Levenshtein edit distance (Kusto exposes this via the
    ``string_distance`` plugin family) — native JVM implementation."""
    return F.levenshtein(_c(a), _c(b)).cast("long")


def string_similarity(a: Column | str, b: Column | str) -> Column:
    """Normalized edit similarity: 1 − lev/max(len) in [0, 1]; 1.0 for
    two empty strings (no edits needed)."""
    ca, cb = _c(a), _c(b)
    mx = F.greatest(F.length(ca), F.length(cb))
    return F.when(mx == 0, F.lit(1.0)).otherwise(
        F.lit(1.0) - F.levenshtein(ca, cb).cast("double") / mx.cast("double")
    )


def soundex_kql(col: Column | str) -> Column:
    """``soundex`` phonetic code (American Soundex, JVM builtin)."""
    return F.soundex(_c(col))


def bag_has_key(bag: Column | str, key: str) -> Column:
    """KQL ``bag_has_key(bag, key)`` — top-level key presence in a JSON
    property bag (parsed as map; malformed/null bags → false)."""
    m = F.from_json(_c(bag), "map<string,string>")
    return F.coalesce(F.map_contains_key(m, key), F.lit(False))


def bag_set_key(bag: Column | str, key: str, value: Column) -> Column:
    """KQL ``bag_set_key(bag, key, value)`` — upsert one top-level key.
    Rebuilt deterministically: entries sorted by key (the make_bag_sorted
    contract — arrival order isn't replayable), value stringified."""
    m = F.from_json(_c(bag), "map<string,string>")
    m2 = F.map_filter(
        F.coalesce(m, F.from_json(F.lit("{}"), "map<string,string>")),
        lambda k, _: k != key,
    )
    entries = F.concat(
        F.map_entries(m2),
        F.array(F.struct(F.lit(key).alias("key"), value.cast("string").alias("value"))),
    )
    srt = F.array_sort(entries)
    return F.to_json(F.map_from_entries(srt))


def array_reverse_kql(col: Column | str) -> Column:
    """KQL ``array_reverse``."""
    return F.reverse(_c(col))


def repeat_kql(value: Column, count: Column | int) -> Column:
    """KQL ``repeat(value, count)`` — array of ``count`` copies; negative
    counts → empty (KQL returns null; empty is the join-safe encoding,
    documented)."""
    n = count if isinstance(count, Column) else F.lit(int(count))
    # NOT sequence(1, n): Spark's sequence DESCENDS when start > stop, so
    # n = 0 would yield [1, 0] — two copies instead of none
    return F.array_repeat(value, F.greatest(n, F.lit(0)))


def gamma_kql(col: Column | str) -> Column:
    """KQL ``gamma(x)`` — Euler gamma. No JVM builtin, so an Arrow
    pandas_udf over ``math.gamma``; non-positive integers / overflow →
    NULL (KQL renders NaN/inf)."""
    import math

    f = _null_safe_udf(lambda v: math.gamma(float(v)), "gamma_kql", "double")
    return f(_c(col))


def loggamma(col: Column | str) -> Column:
    """KQL ``loggamma(x)`` — ln|Γ(x)| via ``math.lgamma`` (Arrow batch)."""
    import math

    f = _null_safe_udf(lambda v: math.lgamma(float(v)), "loggamma", "double")
    return f(_c(col))


def exp2(col: Column | str) -> Column:
    """KQL ``exp2`` — 2^x (codegen pow)."""
    return F.pow(F.lit(2.0), _c(col).cast("double"))


def log2_kql(col: Column | str) -> Column:
    """KQL ``log2`` — native."""
    return F.log2(_c(col))


def pi_kql() -> Column:
    """KQL ``pi()``."""
    return F.lit(3.141592653589793)


def series_fill_const(col: Column | str, value: float = 0.0) -> Column:
    """KQL ``series_fill_const(series, value)`` — replace null elements
    with a constant (the third member of the fill family next to
    forward/backward/linear)."""
    return F.transform(
        _c(col), lambda x: F.coalesce(x.cast("double"), F.lit(float(value)))
    )


def parse_kv(
    col: Column | str,
    keys: list[str],
    pair_delimiter: str = " ",
    kv_delimiter: str = "=",
    quote: str = '"',
) -> Column:
    """KQL ``parse-kv`` — extract the given keys from a delimited
    key-value text (``k1=v1 k2="quoted v" …``) as a struct, one regexp
    per key compiled at plan build (codegen, no UDF, no map
    materialization). Quoted values may contain the pair delimiter;
    missing keys yield NULL fields — both per KQL. A multi-character
    ``pair_delimiter`` (e.g. ``", "``) is honored as a whole string:
    bare values stop at the full delimiter (tempered-dot lookahead), not
    at any single character of it.
    """
    import re as _re

    c = _c(col)
    pd_, kd, q = _re.escape(pair_delimiter), _re.escape(kv_delimiter), _re.escape(quote)
    # single-char delimiter: negated class (cheapest); multi-char:
    # tempered dot — consume any char that does not START the delimiter
    bare_val = f"[^{pd_}]*" if len(pair_delimiter) == 1 else f"(?:(?!{pd_}).)*"
    fields = []
    for k in keys:
        kq = _re.escape(k)
        # quoted alternative first so a quoted value wins over the bare
        # scan stopping at the first pair delimiter
        pat = (
            f"(?:^|{pd_}){kq}{kd}(?:{q}([^{q}]*){q}|({bare_val}))"
        )
        quoted = F.regexp_extract(c, pat, 1)
        bare = F.regexp_extract(c, pat, 2)
        present = c.rlike(pat)
        val = F.when(~present, F.lit(None).cast("string")).otherwise(
            F.when(quoted != "", quoted).otherwise(bare)
        )
        fields.append(val.alias(k))
    return F.struct(*fields)


def punycode_from_string(col: Column | str) -> Column:
    """KQL ``punycode_from_string`` — encode a Unicode label to its
    punycode form (RFC 3492). Arrow-batched pandas_udf over Python's
    stdlib ``punycode`` codec (no JVM scalar exists); NULL for
    unencodable input, per KQL's null-for-error convention."""
    from kusto_pre_forge_spark.operators.textprep import _text_udf

    def enc(s: str):
        try:
            return s.encode("punycode").decode("ascii")
        except Exception:
            return None

    return _text_udf(enc, "punycode_from_string")(_c(col))


def punycode_to_string(col: Column | str) -> Column:
    """KQL ``punycode_to_string`` — decode a punycode label; NULL for
    malformed input."""
    from kusto_pre_forge_spark.operators.textprep import _text_udf

    def dec(s: str):
        try:
            return s.encode("ascii").decode("punycode")
        except Exception:
            return None

    return _text_udf(dec, "punycode_to_string")(_c(col))


def punycode_domain_from_string(col: Column | str) -> Column:
    """KQL ``punycode_domain_from_string`` — IDNA-encode a full domain:
    each dot-separated label becomes ``xn--<punycode>`` when non-ASCII,
    stays verbatim otherwise (the RFC 5890 ACE form browsers show)."""
    from kusto_pre_forge_spark.operators.textprep import _text_udf

    def enc(s: str):
        try:
            out = []
            for label in s.split("."):
                if label.isascii():
                    out.append(label)
                else:
                    out.append(
                        "xn--" + label.encode("punycode").decode("ascii")
                    )
            return ".".join(out)
        except Exception:
            return None

    return _text_udf(enc, "punycode_domain_from_string")(_c(col))


def evaluate_python(
    df: DataFrame, script: str, output_schema: str, batch_size_hint: int | None = None
) -> DataFrame:
    """KQL ``evaluate python(typeof(...), script)`` (the ADX inline-Python
    plugin) — Spark-first as ``mapInPandas``: the script runs per Arrow
    batch with the batch bound as pandas DataFrame ``df`` and must bind
    ``result`` to a pandas DataFrame matching ``output_schema`` (the
    ``typeof`` spec, as Spark DDL). This is exactly the sandbox contract
    of the ADX plugin (input table → df, output table → result), with
    Spark's executor as the sandbox host; like ADX, the script sees one
    PARTITION of data per invocation, so per-row/per-batch logic is
    portable and global aggregates belong in the outer query.

    Scale: Arrow-batched, embarrassingly parallel, no shuffle introduced;
    the script cost is the per-row Python work itself — the same
    "UDFs are the slow path" economics the ADX plugin has. Trust model
    matches the reference's plugin too: scripts are code, run them only
    from trusted queries.
    """
    code = compile(script, "<evaluate_python>", "exec")

    def run(it):
        import pandas as _pd

        for pdf in it:
            ns = {"df": pdf, "pd": _pd}
            exec(code, ns)
            out = ns.get("result")
            if out is None:
                raise ValueError("evaluate_python script must bind `result`")
            yield out

    return df.mapInPandas(run, output_schema)


def diffpatterns_text(
    df: DataFrame,
    text_col: str,
    split_col: Column | str,
    top_k: int = 20,
    min_doc_count: int = 2,
) -> DataFrame:
    """KQL ``evaluate diffpatterns_text(TextColumn, BoolColumn)`` — the
    terms whose DOCUMENT frequency differs most between the true and
    false row sets (ADX surfaces over/under-represented tokens between
    an anomaly window and a baseline; this is the same contract with the
    divergence spelled out).

    One explode to DISTINCT (row, term) pairs — document frequency, so a
    term spamming one doc cannot dominate — then a single
    map-side-combined aggregate per term; scores are exact fractions
    ``|df_true/n_true − df_false/n_false|``. top_k keeps the output the
    report it is; ``min_doc_count`` drops noise terms. All counts
    integer, ratios round-6 — engine-replayable. Returns (term, n_true,
    n_false, frac_true, frac_false, diff) ordered by diff desc, term.
    """
    cond = (F.col(split_col) if isinstance(split_col, str) else split_col).cast(
        "boolean"
    )
    toks = F.array_distinct(
        F.filter(
            F.split(F.lower(F.trim(F.col(text_col))), r"\s+"), lambda t: t != ""
        )
    )
    base = df.select(cond.alias("_s"), F.explode(toks).alias("term"))
    totals = df.select(cond.alias("_s")).groupBy("_s").agg(
        F.count(F.lit(1)).alias("_n")
    )
    rows = {r["_s"]: r["_n"] for r in totals.collect() if r["_s"] is not None}
    n_true = int(rows.get(True, 0))
    n_false = int(rows.get(False, 0))
    agg = base.groupBy("term").agg(
        F.count(F.when(F.col("_s"), 1)).alias("n_true"),
        F.count(F.when(~F.col("_s"), 1)).alias("n_false"),
    )
    frac_t = F.round(F.col("n_true") / F.lit(max(n_true, 1)), 6)
    frac_f = F.round(F.col("n_false") / F.lit(max(n_false, 1)), 6)
    return (
        agg.filter(F.col("n_true") + F.col("n_false") >= min_doc_count)
        .select(
            "term",
            F.col("n_true").cast("long"),
            F.col("n_false").cast("long"),
            frac_t.alias("frac_true"),
            frac_f.alias("frac_false"),
            F.round(F.abs(frac_t - frac_f), 6).alias("diff"),
        )
        .orderBy(F.col("diff").desc(), F.col("term").asc())
        .limit(top_k)
    )


def ipv6_lookup(
    df: DataFrame,
    lookup: DataFrame,
    ip_col: str,
    cidr_col: str = "network",
) -> DataFrame:
    """KQL ``evaluate ipv6_lookup(LookupTable, ip, network)`` — annotate
    each row with the lookup rows whose IPv6 CIDR block contains its
    address (every match, like ``ipv4_lookup``; argmax ``_prefix_len``
    for LPM).

    The canonical 32-hex-digit form from :func:`parse_ipv6` turns prefix
    containment into string comparison: a /p block matches iff the first
    ``p // 4`` hex digits agree AND (for non-nibble-aligned p) the next
    digit agrees on its top ``p % 4`` bits — the digit shift is plain
    integer arithmetic, so the whole test is codegen. Lookup side parses
    once and BROADCASTS (CIDR tables are tiny against a fact stream);
    the fact side never shuffles. Unparseable IPs/networks don't match.
    """
    sfx = F.split(F.col(cidr_col), "/")
    net = parse_ipv6(sfx[0])
    bits = F.when(
        F.col(cidr_col).contains("/"), sfx[1].cast("int")
    ).otherwise(F.lit(128))
    ok = net.isNotNull() & bits.isNotNull() & (bits >= 0) & (bits <= 128)
    lk = (
        lookup.withColumn("_kpf_net", F.when(ok, net))
        .withColumn("_kpf_q", F.when(ok, F.floor(bits / 4).cast("int")))
        .withColumn("_kpf_r", F.when(ok, (bits % 4).cast("int")))
        .withColumn("_prefix_len", F.when(ok, bits.cast("long")))
    )
    t = df.withColumn("_kpf_ip6", parse_ipv6(ip_col))

    def top_bits(canon: Column) -> Column:
        # value of hex digit q+1, keeping only its top r bits
        d = F.conv(F.substring(canon, F.col("_kpf_q") + 1, F.lit(1)), 16, 10).cast(
            "int"
        )
        div = F.pow(F.lit(2.0), (F.lit(4) - F.col("_kpf_r")).cast("double")).cast(
            "int"
        )
        return F.floor(d / div)

    cond = (
        F.col("_kpf_ip6").isNotNull()
        & F.col("_kpf_net").isNotNull()
        & (
            F.substring(F.col("_kpf_ip6"), F.lit(1), F.col("_kpf_q"))
            == F.substring(F.col("_kpf_net"), F.lit(1), F.col("_kpf_q"))
        )
        & (
            (F.col("_kpf_r") == 0)
            | (top_bits(F.col("_kpf_ip6")) == top_bits(F.col("_kpf_net")))
        )
    )
    out = t.join(F.broadcast(lk), cond, "inner")
    return out.drop("_kpf_ip6", "_kpf_net", "_kpf_q", "_kpf_r")


def parse_where(
    df: DataFrame, col: Column | str, *segments, regex_literals: bool = False
) -> DataFrame:
    """KQL ``parse-where`` — :func:`parse_pattern` that additionally DROPS
    rows not matching the pattern (plain ``parse`` keeps them with
    empty/null captures). The filter rlikes the SAME compiled pattern
    the extractor uses (one shared builder), so match + extract stay one
    codegen pass and can never disagree."""
    pattern, _ = _build_parse_pattern(segments, regex_literals)
    return parse_pattern(
        df.filter(_c(col).rlike(pattern)), col, *segments,
        regex_literals=regex_literals,
    )


def getschema(df: DataFrame) -> DataFrame:
    """KQL ``getschema`` — one row per column: (ColumnName, ColumnOrdinal,
    DataType, ColumnType). Driver-side metadata (the schema IS driver
    state); emitted as a single-partition literal frame like ``print``."""
    spark = df.sparkSession
    rows = [
        (f.name, i, f.dataType.simpleString(), f.dataType.simpleString())
        for i, f in enumerate(df.schema.fields)
    ]
    return spark.createDataFrame(
        rows, "ColumnName string, ColumnOrdinal long, DataType string, ColumnType string"
    )


def series_fit_poly(col: Column | str, degree: int = 2) -> Column:
    """KQL ``series_fit_poly(series[, degree])`` for degree 2 (the common
    curvature fit; degree 1 is :func:`series_fit_line`): least-squares
    quadratic over x = 0..n−1, solved in CLOSED FORM — the power sums
    Σx..Σx⁴ come from Faulhaber's formulas (exact polynomials of n), the
    moment sums Σy, Σxy, Σx²y are ascending-index folds, and the 3×3
    normal system solves by Cramer's rule. Every operation is a plain
    arithmetic expression (no UDF, no matrix library), and the fold
    order is pinned so an external engine replays bit-for-bit.

    Returns struct(c0, c1, c2, rss): ŷ = c0 + c1·x + c2·x², residual sum
    of squares over the input points. NULL when n < 3 (underdetermined)
    or the system is singular.
    """
    if degree != 2:
        raise ValueError("series_fit_poly implements degree 2 (use series_fit_line for 1)")
    c = _c(col)
    n = F.size(c).cast("double")

    # ascending-index folds (i is 1-based; x = i-1). Explicit products,
    # not pow(): libm pow(x, 2.0) is not guaranteed bit-equal to x*x
    # across engines, and the oracle replays these folds exactly.
    def moment(px: int) -> Column:
        def term(acc: Column, i: Column) -> Column:
            x = (i - 1).cast("double")
            y = F.element_at(c, i).cast("double")
            if px == 0:
                return acc + y
            if px == 1:
                return acc + x * y
            return acc + x * x * y

        return F.aggregate(
            F.sequence(F.lit(1), F.size(c)), F.lit(0.0), term
        )

    m = n - 1  # max x
    # Faulhaber: exact power sums of 0..m
    s1 = m * (m + 1) / 2
    s2 = m * (m + 1) * (2 * m + 1) / 6
    s3 = (m * (m + 1) / 2) * (m * (m + 1) / 2)
    s4 = m * (m + 1) * (2 * m + 1) * (3 * m * m + 3 * m - 1) / 30
    t0, t1, t2 = moment(0), moment(1), moment(2)

    def det3(a, b, cc, d, e, f_, g, h, i_):
        return (
            a * (e * i_ - f_ * h) - b * (d * i_ - f_ * g) + cc * (d * h - e * g)
        )

    D = det3(n, s1, s2, s1, s2, s3, s2, s3, s4)
    D0 = det3(t0, s1, s2, t1, s2, s3, t2, s3, s4)
    D1 = det3(n, t0, s2, s1, t1, s3, s2, t2, s4)
    D2 = det3(n, s1, t0, s1, s2, t1, s2, s3, t2)
    c0, c1, c2 = D0 / D, D1 / D, D2 / D
    def rss_term(acc: Column, i: Column) -> Column:
        x = (i - 1).cast("double")
        d = F.element_at(c, i).cast("double") - (c0 + c1 * x + c2 * x * x)
        return acc + d * d

    rss = F.aggregate(F.sequence(F.lit(1), F.size(c)), F.lit(0.0), rss_term)
    ok = (F.size(c) >= 3) & (F.abs(D) > 1e-9)
    return F.when(
        ok,
        F.struct(
            F.round(c0, 6).alias("c0"),
            F.round(c1, 6).alias("c1"),
            F.round(c2, 6).alias("c2"),
            F.round(rss, 6).alias("rss"),
        ),
    )


def _betainc_regularized(a: float, b: float, x: float) -> float:
    """Regularized incomplete beta I_x(a, b) — Lentz continued fraction
    (Numerical Recipes §6.4 shape), stdlib-only. Accurate to ~1e-12 for
    the t-distribution arguments welch_test produces."""
    import math

    if x <= 0.0:
        return 0.0
    if x >= 1.0:
        return 1.0
    ln_front = (
        math.lgamma(a + b)
        - math.lgamma(a)
        - math.lgamma(b)
        + a * math.log(x)
        + b * math.log(1.0 - x)
    )
    front = math.exp(ln_front)
    # continued fraction for I_x(a,b); use the symmetry transform when
    # x > (a+1)/(a+b+2) for convergence
    if x > (a + 1.0) / (a + b + 2.0):
        return 1.0 - _betainc_regularized(b, a, 1.0 - x)
    tiny = 1e-300
    f, c, d = 1.0, 1.0, 0.0
    for m in range(0, 300):
        if m == 0:
            num = 1.0
        elif m % 2 == 0:
            k = m // 2
            num = k * (b - k) * x / ((a + 2 * k - 1) * (a + 2 * k))
        else:
            k = (m - 1) // 2
            num = -((a + k) * (a + b + k) * x) / ((a + 2 * k) * (a + 2 * k + 1))
        d = 1.0 + num * d
        d = 1.0 / (d if abs(d) > tiny else tiny)
        c = 1.0 + num / (c if abs(c) > tiny else tiny)
        f *= c * d
        if abs(1.0 - c * d) < 1e-14:
            break
    return front * (f - 1.0) / a


def _t_sf_two_sided(t: float, df: float) -> float:
    """Two-sided p-value for Student's t: I_{df/(df+t²)}(df/2, 1/2)."""
    if df <= 0:
        return float("nan")
    x = df / (df + t * t)
    return _betainc_regularized(df / 2.0, 0.5, x)


def welch_test(
    df: DataFrame,
    value_col: str,
    group_col: str,
    group_a,
    group_b,
) -> DataFrame:
    """KQL ``evaluate welch_test()`` — Welch's unequal-variance two-sample
    t-test between the rows where ``group_col`` equals ``group_a`` vs
    ``group_b``. Returns ONE row: (n_a, n_b, mean_a, mean_b, t_stat,
    df_welch, p_value).

    Plan: the five sufficient statistics per group come from ONE
    map-side-combined conditional aggregate over the scan (no shuffle of
    data, 1 result row); the t statistic and Welch–Satterthwaite degrees
    of freedom are closed-form Catalyst arithmetic on that row, and the
    p-value (Student-t CDF via the regularized incomplete beta — not
    expressible in SQL) is computed DRIVER-SIDE on the single collected
    row and attached as a literal. Driver traffic: one row, ever.
    """
    v = F.col(value_col).cast("double")
    g = F.col(group_col)
    agg = df.agg(
        F.count(F.when(g == group_a, 1)).alias("n_a"),
        F.count(F.when(g == group_b, 1)).alias("n_b"),
        F.avg(F.when(g == group_a, v)).alias("mean_a"),
        F.avg(F.when(g == group_b, v)).alias("mean_b"),
        F.var_samp(F.when(g == group_a, v)).alias("var_a"),
        F.var_samp(F.when(g == group_b, v)).alias("var_b"),
    )
    row = agg.collect()[0]  # bounded: one row of sufficient statistics
    n_a, n_b = row["n_a"], row["n_b"]
    if n_a < 2 or n_b < 2 or row["var_a"] is None or row["var_b"] is None:
        raise ValueError("welch_test needs >= 2 samples per group")
    sa, sb = row["var_a"] / n_a, row["var_b"] / n_b
    se2 = sa + sb
    t_stat = (row["mean_a"] - row["mean_b"]) / (se2 ** 0.5) if se2 > 0 else 0.0
    df_w = (
        se2 * se2 / (sa * sa / (n_a - 1) + sb * sb / (n_b - 1))
        if se2 > 0
        else float(n_a + n_b - 2)
    )
    p = _t_sf_two_sided(t_stat, df_w)
    spark = df.sparkSession
    return spark.createDataFrame(
        [
            (
                int(n_a),
                int(n_b),
                float(row["mean_a"]),
                float(row["mean_b"]),
                float(t_stat),
                float(df_w),
                float(p),
            )
        ],
        "n_a long, n_b long, mean_a double, mean_b double, "
        "t_stat double, df_welch double, p_value double",
    )


def series_fft(col: Column | str):
    """KQL ``series_fft`` — discrete Fourier transform of a real series.
    Returns a struct ``(re, im)`` of array<double>. numpy FFT inside an
    Arrow ``pandas_udf`` (the one construct that beats any SQL expression
    tree for an O(n log n) butterfly); a pure map stage, no shuffle.
    """
    from pyspark.sql import functions as _F

    @_F.pandas_udf("struct<re: array<double>, im: array<double>>")
    def _fft(s):
        import numpy as np
        import pandas as pd

        res_re, res_im = [], []
        for v in s:
            if v is None:
                res_re.append(None)
                res_im.append(None)
                continue
            z = np.fft.fft(np.asarray(v, dtype=np.float64))
            res_re.append(z.real.tolist())
            res_im.append(z.imag.tolist())
        return pd.DataFrame({"re": res_re, "im": res_im})

    return _fft(_c(col))


def series_ifft(re: Column | str, im: Column | str):
    """KQL ``series_ifft`` — inverse DFT from (re, im) arrays back to a
    complex series, returned as the same ``(re, im)`` struct (a real
    input round-trips to im≈0)."""
    from pyspark.sql import functions as _F

    @_F.pandas_udf("struct<re: array<double>, im: array<double>>")
    def _ifft(re_s, im_s):
        import numpy as np
        import pandas as pd

        res_re, res_im = [], []
        for rv, iv in zip(re_s, im_s):
            if rv is None:
                res_re.append(None)
                res_im.append(None)
                continue
            z = np.asarray(rv, dtype=np.float64) + 1j * np.asarray(
                iv if iv is not None else np.zeros(len(rv)), dtype=np.float64
            )
            w = np.fft.ifft(z)
            res_re.append(w.real.tolist())
            res_im.append(w.imag.tolist())
        return pd.DataFrame({"re": res_re, "im": res_im})

    return _ifft(_c(re), _c(im))


def graph_triangles(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    pin_mode: str = "persist",
) -> DataFrame:
    """Per-node triangle counts over an UNDIRECTED graph — the clustering
    /community-density primitive next to :func:`pagerank` and
    :func:`graph_mark_components`. Input direction is ignored;
    self-loops and duplicate/reverse edges collapse first.

    Algorithm: degree-ordered node-iterator (the MapReduce-classic
    Suri–Vassilvitskii shape). Every edge orients low→high by
    (degree, id) — a total order, so each triangle has EXACTLY one node
    with two out-edges and is counted once as wedge + closing edge.
    Degree ordering bounds the wedge fan-out by O(m^1.5) total (a
    celebrity node's star becomes in-edges, never wedges), which is the
    property that survives power-law graphs at scale. The result is
    orientation-invariant, so an oracle may replay with plain id
    ordering. Two self-joins on the oriented edge set; per-node counts
    via one explode + map-side-combined aggregate.

    The deduped edge frame ``e`` feeds two consumers (the degree
    aggregate and the orientation join) and the oriented frame ``o``
    feeds FOUR (both wedge self-join sides, both closing-edge
    projections) — without a pin Catalyst specializes each subtree and
    re-derives the whole dedup+degree pipeline per consumer (measured:
    62 exchanges / 80 source scans for a logically 2-join plan). Both
    are pinned via :func:`kusto_pre_forge_spark.pinning.pin`
    (``pin_mode``, default lazy persist — see that module for the
    lineage/executor-loss trade-offs).

    Returns (node, triangles) for every node with ≥1 triangle.
    """
    from kusto_pre_forge_spark.pinning import pin as _pin

    e = (
        edges.select(
            F.least(F.col(src_col), F.col(dst_col)).alias("a"),
            F.greatest(F.col(src_col), F.col(dst_col)).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    e = _pin(e, pin_mode)
    deg = (
        e.select(F.col("a").alias("n"))
        .unionAll(e.select(F.col("b").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    # orient by (degree, id): low endpoint -> high endpoint
    o = (
        e.join(deg.select(F.col("n").alias("a"), F.col("d").alias("_da")), "a")
        .join(deg.select(F.col("n").alias("b"), F.col("d").alias("_db")), "b")
        .select(
            F.when(
                (F.col("_da") < F.col("_db"))
                | ((F.col("_da") == F.col("_db")) & (F.col("a") < F.col("b"))),
                F.struct(F.col("a").alias("u"), F.col("b").alias("v")),
            )
            .otherwise(F.struct(F.col("b").alias("u"), F.col("a").alias("v")))
            .alias("e")
        )
        .select("e.u", "e.v")
    )
    o = _pin(o, pin_mode)
    w = o.alias("e1").join(
        o.alias("e2"),
        (F.col("e1.u") == F.col("e2.u")) & (F.col("e1.v") < F.col("e2.v")),
    ).select(
        F.col("e1.u").alias("x"),
        F.col("e1.v").alias("y"),
        F.col("e2.v").alias("z"),
    )
    closing = o.select(
        F.col("u").alias("y"), F.col("v").alias("z")
    ).unionAll(o.select(F.col("v").alias("y"), F.col("u").alias("z")))
    tri = w.join(closing, ["y", "z"], "left_semi")
    nodes = tri.select(
        F.explode(F.array("x", "y", "z")).alias("node")
    )
    return nodes.groupBy("node").agg(
        F.count(F.lit(1)).cast("long").alias("triangles")
    )
