"""denormalize_and_link as a declarative Spark plan.

The reference's single-pass row loop (lib.rs:32-190) becomes:

    facts ──join entries (title, rt resolution)──join reading_types──
          ──8x broadcast enum decode──broadcast DST-year dim──project

Every join carries ``source_file`` in its key so multi-file ingest is
one job (the reference loops files single-threaded and UNION-ALLs).
At scale the fact side never broadcasts; the dimension sides (entries,
reading types, LTP, enum dim, year dim) are tiny per file and AQE
converts the joins to broadcast at runtime.

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

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .dst import apply_local_time_shift, build_dst_dim
from .enum_dim import decode_enum_expr, load_enum_dim
from .schemas import TIMESERIES_COLUMNS
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

_ENUM_FIELDS = [
    ("accumulation_behaviour", "accumulationBehaviour"),
    ("commodity", "commodity"),
    ("currency", "currency"),
    ("data_qualifier", "dataQualifier"),
    ("flow_direction", "flowDirection"),
    ("kind", "kind"),
    ("phase", "phase"),
    ("uom", "uom"),
]


def _validate_single_ltp(ltp: DataFrame, all_files: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Files must carry exactly one LTP row (lib.rs:42-50).

    ``all_files`` is the distinct source_file universe from successfully
    parsed files — needed because a file with ZERO LTP rows never appears
    in the LTP table at all.  Returns (valid single-row ltp, error rows).
    """
    counts = all_files.join(
        ltp.groupBy("source_file").agg(F.count("*").alias("n")), "source_file", "left"
    ).withColumn("n", F.coalesce("n", F.lit(0)))
    bad = counts.filter(F.col("n") != 1).select(
        "source_file",
        F.when(
            F.col("n") > 1,
            F.lit("Input with multiple LocalTimeParameters is currently unsupported."),
        )
        .otherwise(F.lit("Missing LocalTimeParameters."))
        .alias("error"),
    )
    good = ltp.join(counts.filter(F.col("n") == 1).select("source_file"), "source_file", "left_semi")
    return good, bad


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
        mr,
        (F.col("source_file") == F.col("mr_file")) & (F.col("mr_href") == F.col("mr_self_href")),
        "left",
    )
    hop2 = hop1.join(
        rt,
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


def denormalize_and_link(
    tables: dict[str, DataFrame],
    enum_dim: DataFrame,
    include_source_file: bool = False,
    strict_single_ltp: bool = True,
) -> DataFrame:
    """Four normalized tables -> the 15-column TimeSeries DataFrame.
    Thin wrapper over :func:`denormalize_with_errors` for callers that
    only want the data side."""
    ts, _errors = denormalize_with_errors(
        tables, enum_dim, include_source_file, strict_single_ltp
    )
    return ts


def denormalize_with_errors(
    tables: dict[str, DataFrame],
    enum_dim: DataFrame,
    include_source_file: bool = False,
    strict_single_ltp: bool = True,
) -> tuple[DataFrame, DataFrame]:
    """Four normalized tables -> (TimeSeries, per-file error rows).

    Error rows cover: LTP cardinality violations (lib.rs:42-50) and
    facts whose entry resolves to no reading type (lib.rs:168-169,
    'Missing reading type') — in both cases the WHOLE file is excluded,
    matching the reference's fail-the-file semantics.

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
    rts = tables["reading_types"]

    # Fail-the-file atomicity for streaming parses: a file that errored
    # mid-stream (iter_espi_stream) has already emitted partial rows —
    # anti-join them away here so error files contribute NOTHING to any
    # table (lib.rs:32-50).  The error set is tiny: broadcast anti-join.
    err = tables.get("errors")
    if err is not None:
        err_files = F.broadcast(err.select("source_file").distinct())
        entries = entries.join(err_files, "source_file", "left_anti")
        facts = facts.join(err_files, "source_file", "left_anti")
        rts = rts.join(err_files, "source_file", "left_anti")

    all_files = entries.select("source_file").distinct()
    if strict_single_ltp:
        ltp, ltp_errors = _validate_single_ltp(
            tables["local_time_parameters"], all_files
        )
        entry_dim = entries.select("source_file", "entry_index", "title")
    else:
        entry_dim = entries.select(
            "source_file",
            "entry_index",
            "title",
            F.regexp_extract("href", _USAGE_POINT_RE, 1).alias("up_key"),
        )
        # per-(file, usage point, year) dim universe from the RAW facts
        # (same keep-the-chain-once reasoning as the strict file_years)
        entry_up = entries.select(
            "source_file",
            "entry_index",
            F.regexp_extract("href", _USAGE_POINT_RE, 1).alias("up_key"),
        )
        file_up_years = (
            facts.join(entry_up, ["source_file", "entry_index"])
            .select(
                "source_file",
                "up_key",
                F.year(F.timestamp_seconds(F.col("time_period_start_unix")))
                .cast("long")
                .alias("year"),
            )
            .distinct()
        )
        fact_ups = file_up_years.select("source_file", "up_key").distinct()
        ltp_resolved, ltp_errors = resolve_ltp_for_scopes(
            tables["local_time_parameters"], entries, all_files, fact_ups
        )

    rt_map = resolve_reading_types(entries)
    f1 = (
        facts.join(entry_dim, ["source_file", "entry_index"], "inner")
        .join(rt_map, ["source_file", "entry_index"], "left")
    )

    # keep only files with a valid LTP config (error channel carries the rest)
    if strict_single_ltp:
        f1 = f1.join(ltp.select("source_file"), "source_file", "left_semi")
    else:
        f1 = f1.join(
            all_files.join(
                ltp_errors.select("source_file"), "source_file", "left_anti"
            ),
            "source_file",
            "left_semi",
        )

    # J4: fact -> reading type codes. A fact that resolves to no reading
    # type fails its WHOLE file into the error channel (lib.rs:168-169).
    rt_codes = rts.select(
        "source_file",
        F.col("entry_index").alias("rt_entry_index"),
        *[c for c, _ in _ENUM_FIELDS if c != "phase"],
        "phase",
        "power_of_ten_multiplier",
    )
    f2all = f1.join(rt_codes, ["source_file", "rt_entry_index"], "left")
    # rt_errors (the errors branch only) re-derives from f2all; the DATA
    # plan instead drops invalid files with one window flag over the
    # fact stream.  The previous anti-join form built its tiny build
    # side FROM f2all, which replanned the whole fact join chain a
    # second time inside the timeseries plan (measured: 107 exchanges /
    # 61 joins in one 512-file plan; the window form plus the raw-facts
    # dst dim below cut it to ~1/4).  The window shuffles by file —
    # bounded partitions (files are small by construction), and at
    # scale it replaces a second full pass over the fact chain.
    missing_rt_files = (
        f2all.filter(F.col("power_of_ten_multiplier").isNull())
        .select("source_file")
        .distinct()
    )
    rt_errors = missing_rt_files.select(
        "source_file", F.lit("Missing reading type").alias("error")
    )
    from pyspark.sql.window import Window

    file_bad = F.max(
        F.col("power_of_ten_multiplier").isNull().cast("int")
    ).over(Window.partitionBy("source_file"))
    f2 = (
        f2all.withColumn("__file_bad", file_bad)
        .filter(F.col("__file_bad") == 0)
        .drop("__file_bad")
    )

    # P6: value scaling in genuine FLOAT arithmetic (golden bit parity)
    f2 = f2.withColumn(
        "value_scaled",
        (
            F.col("value").cast("float")
            * F.pow(F.lit(10.0), F.col("power_of_ten_multiplier").cast("double")).cast("float")
        ).cast("float"),
    )

    # P11: DST/tz shift via the per-(file, year) broadcast dim.  The
    # (file, year) universe is a function of the RAW facts alone —
    # deriving it from f2 duplicated the entire fact join chain under
    # the dim build; deriving upstream keeps the chain in the plan
    # exactly once.  (Files later excluded by the error channel leave
    # harmless extra dim rows: the dim is left-joined.)
    ts = F.timestamp_seconds(F.col("time_period_start_unix"))
    f2 = f2.withColumn("reading_ts", ts).withColumn("year", F.year("reading_ts").cast("long"))
    if strict_single_ltp:
        file_years = facts.select(
            "source_file",
            F.year(F.timestamp_seconds(F.col("time_period_start_unix"))).cast("long").alias("year"),
        ).distinct()
        dst_dim = build_dst_dim(ltp, file_years)
        f3 = f2.join(F.broadcast(dst_dim), ["source_file", "year"], "left")
    else:
        dst_dim = build_dst_dim(
            ltp_resolved, file_up_years, keys=("source_file", "up_key")
        )
        f3 = f2.join(
            F.broadcast(dst_dim), ["source_file", "up_key", "year"], "left"
        )
    shifted = apply_local_time_shift(
        F.col("reading_ts"),
        F.col("dst_start_ts"),
        F.col("dst_end_ts"),
        F.col("dst_offset"),
        F.col("tz_offset"),
    )
    f3 = f3.withColumn("shifted_unix", F.unix_timestamp(shifted))

    # P12: enova provider cost patch, gated per file on the FIRST entry href
    first_href = (
        entries.groupBy("source_file")
        .agg(F.min_by("href", "entry_index").alias("first_href"))
        .select("source_file", F.col("first_href").contains("enova").alias("is_enova"))
    )
    f3 = f3.join(F.broadcast(first_href), "source_file", "left")
    f3 = f3.withColumn(
        "cost_patched",
        F.when(F.coalesce(F.col("is_enova"), F.lit(False)), F.col("cost") * F.lit(100.0).cast("float"))
        .otherwise(F.col("cost"))
        .cast("float"),
    )

    # P10: enum decode — 8 reading-type columns + fact-side quality.
    # Literal map lookups (the phf-map analog), one withColumns pass:
    # no broadcast exchanges, single Catalyst analysis.
    decode_cols = {"quality_str": decode_enum_expr("quality", "QualityOfReading", scope="")}
    for code_col, xsd_field in _ENUM_FIELDS:
        decode_cols[f"{code_col}_str"] = decode_enum_expr(code_col, xsd_field)
    decoded = f3.withColumns(decode_cols)

    # the cost NaN sentinel (interval_reading.rs:15-16) survives as NULL
    # through the Arrow hop in the parse stage — restore NaN so the
    # column is never-null like the reference's REQUIRED FLOAT
    out_cols = [
        F.col("title"),
        F.coalesce(F.col("cost_patched"), F.lit(float("nan")).cast("float")).alias("cost"),
        F.col("quality_str").alias("quality"),
        F.col("value_scaled").alias("value"),
        F.col("tou"),
        F.col("shifted_unix").alias("time_period_start_unix"),
        F.col("time_period_duration_seconds"),
        *[F.col(f"{c}_str").alias(c) for c, _ in _ENUM_FIELDS],
    ]
    if include_source_file:
        out_cols.insert(0, F.col("source_file"))
    result = decoded.select(*out_cols)
    ordered = ["source_file", *TIMESERIES_COLUMNS] if include_source_file else TIMESERIES_COLUMNS
    all_errors = ltp_errors.unionByName(rt_errors)
    if err is not None:
        all_errors = err.select("source_file", "error").unionByName(all_errors)
    return result.select(*ordered), all_errors


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
    return denormalize_with_errors(
        tables, load_enum_dim(spark), include_source_file, strict_single_ltp
    )


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
        yield denormalize_with_errors(
            tables, load_enum_dim(spark), include_source_file, strict_single_ltp
        )
    finally:
        parsed.unpersist()
