"""denormalize_and_link as a declarative Spark plan: a star join.

The reference's single-pass row loop (lib.rs:32-190) becomes one fact
stream over two small broadcast dimensions:

    facts ──⋈ entry dim (title, f32(10^p), 8 enum strings, is_enova)──
          ──⋈ DST dim (per file[, usage point] and year)──project──sink

Everything that is constant per file or per entry is resolved once, on
dimensions built from the non-fact tables plus one distinct-key
aggregate over the facts:

* file aggregate  entries ∪ LTP ∪ parse-error rows grouped by file:
                  LTP count, parse-error flag, first-entry href (enova)
* entry dim       entry -> meter reading -> reading type (two href hops)
                  with the reading-type codes decoded once per entry
* fact keys       distinct (file, entry, year): feeds the 'Missing
                  reading type' check and the DST dim

The entry dim is O(entries) and the DST dim O(files x years), however
many readings there are, so both carry explicit broadcast hints and the
fact stream is one stage: scan, two broadcast hash joins, project — no
shuffle, no window.  A file that fails any check has no row in the
entry dim, so the inner join drops its facts, including partial rows a
streaming parse emitted before its error row.  Every key carries
``source_file`` so a multi-file ingest is one job (the reference loops
files single-threaded and UNION-ALLs).

Quirk parity with the reference (each cited):
* value = f32(raw) * f32(10^power_of_ten_multiplier) in FLOAT
  arithmetic (lib.rs:171-173) — golden shows 58.000004.
* DST shift on naive-UTC clock time, strict window (lib.rs:157-162).
* enova provider patch: if the file's FIRST entry href contains
  'enova', all costs x100 (timeseries.rs:173-178, lib.rs:187).
* exactly one LocalTimeParameters row per file required
  (lib.rs:42-50) — violating files go to the error channel instead of
  aborting the whole job (S2 tolerance).
* facts whose entry resolves to no reading type are errors
  (lib.rs:168-169) — routed to the error channel.
"""

from __future__ import annotations

from collections.abc import Iterator
from contextlib import contextmanager
from functools import reduce

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .dst import apply_local_time_shift, build_dst_dim
from .enum_dim import decode_enum_expr
from .schemas import ENUM_FIELDS
from .source import read_espi, split_tables


def _pin_utc(spark: SparkSession) -> None:
    """ESPI timestamps are data, not wall clock: every year/timestamp
    expression in this module must evaluate in UTC regardless of the
    caller's session zone (ADVICE r1: a non-UTC session silently broke
    golden parity)."""
    try:
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    except Exception:  # pragma: no cover - static-conf sessions
        pass


# ESPI hrefs scope resources under ".../UsagePoint/{id}/..."; the prefix
# is the usage-point key (same derivation family as _METER_READING_RE).
# The (?:/|$) tail also scopes an href ending exactly AT the usage
# point (".../UsagePoint/{id}" with no child segment) — r14 ADVICE: a
# trailing-slash-only pattern silently demoted those to file-global.
_USAGE_POINT_RE = r"(.*UsagePoint/[^/]*)(?:/|$)"
_LTP_RULE_COLS = ("dst_start_rule", "dst_end_rule", "dst_offset", "tz_offset")


def _resolve_ltp_per_usage_point(
    ltp: DataFrame, entries: DataFrame, all_files: DataFrame
) -> tuple[DataFrame, DataFrame]:
    """Non-strict LTP resolution — the SURVEY §7 improvement over the
    reference's whole-file abort on multiple LocalTimeParameters
    (lib.rs:42-50): each LTP is SCOPED by the usage-point prefix of its
    carrying entry's href (no UsagePoint path -> '' = file-global), so
    a file may legally carry one global plus one LTP per usage point.

    Errors (still per-file, fail-the-file atomicity): no LTP at all,
    or >1 LTP in the SAME scope (genuinely ambiguous).  Returns
    (scoped ltp rows (source_file, up_key, rules...), error rows).
    """
    hrefs = entries.select("source_file", "entry_index", "href")
    scoped = (
        ltp.join(hrefs, ["source_file", "entry_index"], "left")
        .withColumn(
            "up_key",
            F.coalesce(F.regexp_extract("href", _USAGE_POINT_RE, 1), F.lit("")),
        )
        .select("source_file", "up_key", *_LTP_RULE_COLS)
    )
    dup_files = (
        scoped.groupBy("source_file", "up_key")
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") > 1)
        .select("source_file")
        .distinct()
    )
    missing = all_files.join(
        scoped.select("source_file").distinct(), "source_file", "left_anti"
    ).select(
        "source_file", F.lit("Missing LocalTimeParameters.").alias("error")
    )
    dups = dup_files.select(
        "source_file",
        F.lit(
            "Multiple LocalTimeParameters in one usage-point scope."
        ).alias("error"),
    )
    good = scoped.join(dup_files, "source_file", "left_anti")
    return good, missing.unionByName(dups)


def resolve_ltp_for_scopes(
    ltp: DataFrame,
    entries: DataFrame,
    all_files: DataFrame,
    fact_ups: DataFrame,
) -> tuple[DataFrame, DataFrame]:
    """Full non-strict LTP resolution for a set of fact scopes: scope
    the LTPs per usage point (``_resolve_ltp_per_usage_point``), then
    resolve every (source_file, up_key) in ``fact_ups`` — UP-scoped
    LTP first, file-global ('') fallback via a left-join coalesce; a
    scope with neither fails its file.

    Returns (ltp_resolved rows (source_file, up_key, rules... —
    NULL-ruled rows kept so callers apply fail-the-file atomicity),
    per-file error rows).  This is the production path of
    ``denormalize_with_errors(strict_single_ltp=False)`` AND the body
    of the espi_multi_ltp_scope_resolution oracle query — the
    batch-parity pattern the streaming operators use, so the driver
    gate exercises the same code the CLI's --multi-ltp runs."""
    ltp_scoped, ltp_errors = _resolve_ltp_per_usage_point(ltp, entries, all_files)
    # resolve each fact scope: UP-scoped LTP first, file-global
    # ('') fallback; a fact scope with neither fails its file
    up_scoped = ltp_scoped.filter(F.col("up_key") != "")
    glob = ltp_scoped.filter(F.col("up_key") == "").select(
        "source_file",
        *[F.col(c).alias(f"__g_{c}") for c in _LTP_RULE_COLS],
    )
    ltp_resolved = (
        fact_ups.join(up_scoped, ["source_file", "up_key"], "left")
        .join(glob, "source_file", "left")
        .select(
            "source_file",
            "up_key",
            *[
                F.coalesce(F.col(c), F.col(f"__g_{c}")).alias(c)
                for c in _LTP_RULE_COLS
            ],
        )
    )
    unresolved = (
        ltp_resolved.filter(F.col("tz_offset").isNull())
        .select("source_file")
        .distinct()
        # files already errored (no LTP at all / duplicate scope)
        # resolve to nothing too — one error row per file, not two
        .join(ltp_errors.select("source_file"), "source_file", "left_anti")
        .select(
            "source_file",
            F.lit("Missing LocalTimeParameters.").alias("error"),
        )
    )
    return ltp_resolved, ltp_errors.unionByName(unresolved)


def resolve_reading_types(entries: DataFrame) -> DataFrame:
    """J2: entry -> meter-reading entry -> reading-type entry (2-hop href
    walk, lib.rs:58-83).  Output: (source_file, entry_index,
    rt_entry_index) with NULL when the entry has no meter-reading link."""
    e = entries.select(
        "source_file",
        "entry_index",
        F.col("related_meter_reading_entry_href").alias("mr_href"),
    )
    mr = entries.select(
        F.col("source_file").alias("mr_file"),
        F.col("href").alias("mr_self_href"),
        F.col("related_reading_type_entry_href").alias("rt_href"),
    )
    rt = entries.select(
        F.col("source_file").alias("rt_file"),
        F.col("href").alias("rt_self_href"),
        F.col("entry_index").alias("rt_entry_index"),
        F.col("entry_type").alias("rt_entry_type"),
    )
    hop1 = e.filter(F.col("mr_href") != "").join(
        F.broadcast(mr),
        (F.col("source_file") == F.col("mr_file")) & (F.col("mr_href") == F.col("mr_self_href")),
        "left",
    )
    hop2 = hop1.join(
        F.broadcast(rt),
        (F.col("source_file") == F.col("rt_file")) & (F.col("rt_href") == F.col("rt_self_href")),
        "left",
    )
    return hop2.select(
        "source_file",
        "entry_index",
        F.when(F.col("rt_entry_type") == "reading_type", F.col("rt_entry_index")).alias(
            "rt_entry_index"
        ),
    )


def _year(unix_seconds: Column) -> Column:
    return F.year(F.timestamp_seconds(unix_seconds)).cast("long")


def _file_aggregate(
    entries: DataFrame, ltp: DataFrame, errors: DataFrame | None
) -> DataFrame:
    """One aggregate per file over entries ∪ LTP ∪ parse-error rows:
    entry and LTP counts, the parse-error flag, the LTP rules (exact
    when the file has one LTP) and the enova flag, taken from the FIRST
    entry's href (timeseries.rs:173-178).  Only entry rows carry an
    ``entry_index``; ``min_by`` skips the NULL orderings of the rest."""
    null = F.lit(None)
    parts = [
        entries.select(
            "source_file", "entry_index", "href",
            F.lit(0).alias("is_ltp"), F.lit(0).alias("is_err"),
            *[null.cast("long").alias(c) for c in _LTP_RULE_COLS],
        ),
        ltp.select(
            "source_file", null.cast("long").alias("entry_index"),
            null.cast("string").alias("href"),
            F.lit(1).alias("is_ltp"), F.lit(0).alias("is_err"), *_LTP_RULE_COLS,
        ),
    ]
    if errors is not None:
        parts.append(errors.select(
            "source_file", null.cast("long").alias("entry_index"),
            null.cast("string").alias("href"),
            F.lit(0).alias("is_ltp"), F.lit(1).alias("is_err"),
            *[null.cast("long").alias(c) for c in _LTP_RULE_COLS],
        ))
    return reduce(DataFrame.unionByName, parts).groupBy("source_file").agg(
        F.count("entry_index").alias("n_entries"),
        F.sum("is_ltp").alias("n_ltp"),
        F.max("is_err").alias("has_err"),
        F.min_by("href", "entry_index").contains("enova").alias("is_enova"),
        *[F.max(c).alias(c) for c in _LTP_RULE_COLS],
    )


def _entry_dim(entries: DataFrame, reading_types: DataFrame) -> DataFrame:
    """Per entry: title, usage-point key, ``f32(10^p)`` and the 8 decoded
    reading-type strings.  An entry whose reading type does not resolve
    (lib.rs:168-169) keeps its row with a NULL ``scale``."""
    rt_codes = reading_types.select(
        "source_file",
        F.col("entry_index").alias("rt_entry_index"),
        "power_of_ten_multiplier",
        *[c for c, _ in ENUM_FIELDS],
    )
    return (
        entries.select(
            "source_file", "entry_index", "title",
            F.regexp_extract("href", _USAGE_POINT_RE, 1).alias("up_key"),
        )
        .join(F.broadcast(resolve_reading_types(entries)), ["source_file", "entry_index"], "left")
        .join(F.broadcast(rt_codes), ["source_file", "rt_entry_index"], "left")
        .select(
            "source_file", "entry_index", "title", "up_key",
            # P6: the scale factor in FLOAT, as the reference computes it
            F.pow(F.lit(10.0), F.col("power_of_ten_multiplier").cast("double"))
            .cast("float")
            .alias("scale"),
            # P10: literal-map decode (the phf-map analog), once per entry
            *[decode_enum_expr(c, xsd).alias(c) for c, xsd in ENUM_FIELDS],
        )
    )


def denormalize_and_link(
    tables: dict[str, DataFrame],
    include_source_file: bool = False,
    strict_single_ltp: bool = True,
) -> DataFrame:
    """Four normalized tables -> the 15-column TimeSeries DataFrame.
    Thin wrapper over :func:`denormalize_with_errors` for callers that
    only want the data side."""
    ts, _errors = denormalize_with_errors(tables, include_source_file, strict_single_ltp)
    return ts


def denormalize_with_errors(
    tables: dict[str, DataFrame],
    include_source_file: bool = False,
    strict_single_ltp: bool = True,
) -> tuple[DataFrame, DataFrame]:
    """Four normalized tables -> (TimeSeries, per-file error rows).

    Error rows cover: parse failures (``tables["errors"]``), LTP
    cardinality violations (lib.rs:42-50) and facts whose entry resolves
    to no reading type (lib.rs:168-169, 'Missing reading type') — in
    every case the WHOLE file is excluded, matching the reference's
    fail-the-file semantics.  A file gets one error: a parse error
    hides the LTP check, and only files whose LTP is valid are checked
    for reading types.

    ``strict_single_ltp=False`` (SURVEY §7 improvement; r13 VERDICT
    item 7) relaxes the reference's one-LTP-per-file restriction:
    LTPs resolve PER USAGE POINT (href-scope join, file-global ''
    fallback), so a multi-utility export with one tz per usage point
    processes instead of erroring.  The default keeps reference parity
    (golden byte-parity depends on it) and the per-file error channel;
    single-global-LTP files produce identical rows under either mode.
    """
    # The DST window compare and F.year/to_timestamp below evaluate in
    # the session zone; golden parity (dst.py, reference lib.rs) assumes
    # UTC.  get_spark pins it, but a caller-supplied session may not —
    # pin here so the pipeline is correct in any session.
    _pin_utc(tables["entries"].sparkSession)
    entries = tables["entries"]
    facts = tables["interval_readings"]
    ltp = tables["local_time_parameters"]
    err = tables.get("errors")

    # files that parsed: at least one entry and no error row
    files = _file_aggregate(entries, ltp, err).filter(
        (F.col("n_entries") > 0) & (F.col("has_err") == 0)
    )
    entry_dim = _entry_dim(entries, tables["reading_types"])
    fact_keys = facts.select(
        "source_file", "entry_index", _year(F.col("time_period_start_unix")).alias("year")
    ).distinct()

    if strict_single_ltp:
        ltp_errors = files.filter(F.col("n_ltp") != 1).select(
            "source_file",
            F.when(
                F.col("n_ltp") > 1,
                F.lit("Input with multiple LocalTimeParameters is currently unsupported."),
            )
            .otherwise(F.lit("Missing LocalTimeParameters."))
            .alias("error"),
        )
        ltp_ok = files.filter(F.col("n_ltp") == 1)
    else:
        file_up_years = (
            fact_keys.join(
                F.broadcast(entry_dim.select("source_file", "entry_index", "up_key")),
                ["source_file", "entry_index"],
            )
            .select("source_file", "up_key", "year")
            .distinct()
        )
        ltp_resolved, ltp_errors = resolve_ltp_for_scopes(
            ltp,
            entries,
            files.select("source_file"),
            file_up_years.select("source_file", "up_key").distinct(),
        )
        # a file with a parse error reports only that error
        ltp_errors = ltp_errors.join(
            F.broadcast(files.select("source_file")), "source_file", "left_semi"
        )
        ltp_ok = files.join(
            F.broadcast(ltp_errors.select("source_file")), "source_file", "left_anti"
        )

    # J4: a fact whose entry resolves to no reading type fails its WHOLE
    # file (lib.rs:168-169); entries without readings never do
    rt_error_files = (
        fact_keys.join(
            F.broadcast(entry_dim.filter(F.col("scale").isNull())),
            ["source_file", "entry_index"],
            "left_semi",
        )
        .select("source_file")
        .distinct()
    )
    rt_errors = rt_error_files.join(
        F.broadcast(ltp_ok.select("source_file")), "source_file", "left_semi"
    ).select("source_file", F.lit("Missing reading type").alias("error"))
    good = ltp_ok.join(
        F.broadcast(rt_error_files), "source_file", "left_anti"
    ).select("source_file", "is_enova", *_LTP_RULE_COLS)

    # P11: DST/tz rules per (file[, usage point], year), from the fact
    # keys — the analog of the reference's per-year memoization
    if strict_single_ltp:
        dst_keys = ["source_file", "year"]
        dst_dim = build_dst_dim(good, fact_keys.select(*dst_keys).distinct())
    else:
        dst_keys = ["source_file", "up_key", "year"]
        dst_dim = build_dst_dim(
            ltp_resolved, file_up_years, keys=("source_file", "up_key")
        )

    reading_ts = F.timestamp_seconds(F.col("time_period_start_unix"))
    stream = (
        facts.join(
            F.broadcast(
                entry_dim.join(F.broadcast(good.select("source_file", "is_enova")), "source_file")
            ),
            ["source_file", "entry_index"],
        )
        .withColumn("year", _year(F.col("time_period_start_unix")))
        .join(F.broadcast(dst_dim), dst_keys, "left")
    )
    shifted = apply_local_time_shift(
        reading_ts,
        F.col("dst_start_ts"),
        F.col("dst_end_ts"),
        F.col("dst_offset"),
        F.col("tz_offset"),
    )
    # P12: the enova cost patch.  The cost NaN sentinel
    # (interval_reading.rs:15-16) crosses the Arrow hop in the parse
    # stage as NULL — restore NaN so the column is never-null like the
    # reference's REQUIRED FLOAT.
    cost = F.when(F.col("is_enova"), F.col("cost") * F.lit(100.0).cast("float")).otherwise(
        F.col("cost")
    )
    out_cols = [
        "title",
        F.coalesce(cost.cast("float"), F.lit(float("nan")).cast("float")).alias("cost"),
        decode_enum_expr("quality", "QualityOfReading", scope="").alias("quality"),
        # P6: value scaling in genuine FLOAT arithmetic (golden bit parity)
        (F.col("value").cast("float") * F.col("scale")).cast("float").alias("value"),
        "tou",
        F.unix_timestamp(shifted).alias("time_period_start_unix"),
        "time_period_duration_seconds",
        *[c for c, _ in ENUM_FIELDS],
    ]
    if include_source_file:
        out_cols.insert(0, "source_file")
    all_errors = ltp_errors.unionByName(rt_errors)
    if err is not None:
        all_errors = err.select("source_file", "error").unionByName(all_errors)
    return stream.select(*out_cols), all_errors


def timeseries_from_files(
    spark: SparkSession,
    paths: str | list[str],
    include_source_file: bool = False,
    strict_single_ltp: bool = True,
) -> tuple[DataFrame, DataFrame]:
    """End-to-end: file paths -> (timeseries_df, errors_df).

    The parsed union table is the single Python-stage output; it is
    consumed by several branches (entries x3 aliases, facts, LTP), so it
    is materialized once via ``localCheckpoint(eager=True)`` — one
    parse per file total, like the reference.  Eager, because a lazy
    checkpoint is marked by whichever concurrent broadcast job finishes
    first, and Spark 4.1 can deadlock there: that thread holds the
    checkpoint registry lock and waits for the RDD's lock, which the
    DAG scheduler holds while it waits for the registry (seen under
    pytest as a collect that never returned).  Unlike ``persist``, the
    checkpoint blocks are released automatically (ContextCleaner) once
    the returned DataFrames are garbage-collected, so repeated ingests
    in one session don't accumulate cached blocks.  For deterministic,
    scope-bound cleanup use :func:`espi_ingest`.
    """
    parsed = read_espi(spark, paths).localCheckpoint(eager=True)
    tables = split_tables(parsed)
    # denormalize_with_errors folds tables["errors"] (parse failures)
    # into its error channel alongside LTP/reading-type violations
    return denormalize_with_errors(tables, include_source_file, strict_single_ltp)


@contextmanager
def espi_ingest(
    spark: SparkSession,
    paths: str | list[str],
    include_source_file: bool = False,
    strict_single_ltp: bool = True,
) -> Iterator[tuple[DataFrame, DataFrame]]:
    """Scope-bound ingest: ``with espi_ingest(spark, p) as (ts, errors):``.

    Identical to :func:`timeseries_from_files`, but the one-parse-total
    cache is an explicit ``persist`` released on context exit, so a
    long-lived session (CLI loops, notebooks, shared clusters) holds no
    cached blocks afterwards.  Consume the DataFrames inside the scope.
    """
    parsed = read_espi(spark, paths).persist()
    try:
        tables = split_tables(parsed)
        yield denormalize_with_errors(tables, include_source_file, strict_single_ltp)
    finally:
        parsed.unpersist()
