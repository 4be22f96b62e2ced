"""DST/timezone rule evaluation as Spark SQL expression text (P11).

The reference decodes a bit-packed u32 rule and evaluates one of 8
calendar operators per (rule, year), memoized per year
(local_time_parameters.rs:31-143, lib.rs:117-162).  Here the same math
is one SQL expression per rule, evaluated on the pipeline's tiny
(source_file[, usage point], year) DST dimension — no Python, no
per-row recomputation, and the dim is O(files x years) regardless of
fact count.  The builders return text, not Columns: the pipeline
splices it into its one SQL statement, so the whole rule costs one
parse instead of a py4j round trip per sub-expression.  Callers pass
column names or any SQL expression; each argument is parenthesized and
may appear several times in the result.

Zone-free: instants are naive-UTC epoch seconds (BIGINT) and calendar
math runs on DATEs built from ``unix_date`` / ``date_from_unix_date``,
so no expression reads ``spark.sql.session.timeZone`` and the result
is the same in any session.

Quirk parity (validated against the reference's unit tests, incl. the
Green Button Alliance example 360E2000/2020 -> 2020-03-10 02:00:00):

* day-of-week decode is ``(bits + 1) % 7`` with 0=Monday — the
  reference's chrono conversion (local_time_parameters.rs:125), which
  does NOT match the published 1=Monday encoding; golden parity wins.
* rule 0xFFFFFFFF means "no DST" (:119-121).
* out-of-range fields -> rule ignored entirely (lib.rs:145-156).
* the DST window is applied to the reading's naive-UTC clock time with
  STRICT inequalities start < t < end (lib.rs:157-161).

ANSI-safe: every make_date sees validated inputs via CASE branches.
"""

from __future__ import annotations


def _dow_monday0(date: str) -> str:
    """Spark dayofweek (1=Sunday..7=Saturday) -> 0=Monday..6=Sunday."""
    return f"((dayofweek({date}) + 5) % 7)"


def _days_since(target_dow: str, date: str) -> str:
    """Days from ``date`` forward to the next-or-same ``target_dow``
    (chrono Weekday::days_since semantics)."""
    return f"CAST(pmod({target_dow} - {_dow_monday0(date)}, 7) AS INT)"


def year_sql(unix: str) -> str:
    """The calendar year of naive-UTC epoch seconds ``unix``, as INT."""
    return f"year(date_from_unix_date(CAST(floor(({unix}) / 86400) AS INT)))"


def rule_epoch_sql(rule: str, year: str) -> str:
    """Evaluate one DST rule for one year -> naive-UTC epoch seconds
    (BIGINT) or NULL.

    NULL when: rule is the no-DST sentinel, any field is out of range,
    or the (operator, month, day) combination names no real date —
    exactly the reference's Option/None paths.
    """
    rule, year = f"({rule})", f"({year})"

    def field(shift: int, mask: int) -> str:
        return f"(shiftright({rule}, {shift}) & {mask})"

    seconds = f"({rule} & 4095)"
    hours = field(12, 0x1F)
    target_dow = f"(({field(17, 0x7)} + 1) % 7)"  # chrono quirk: 0=Monday
    dom = field(20, 0x1F)
    op = field(25, 0x7)
    month = field(28, 0xF)

    valid_fields = (
        f"({seconds} <= 3599 AND {hours} <= 23 AND {dom} <= 31"
        f" AND {op} <= 7 AND {month} <= 12)"
    )
    yi, mi = f"CAST({year} AS INT)", f"CAST({month} AS INT)"
    first_of_month = f"make_date({yi}, {mi}, 1)"  # guarded by the month check below
    last_of_month = f"last_day({first_of_month})"
    dom_ok = f"({dom} BETWEEN 1 AND dayofmonth({last_of_month}))"
    dom_date = f"make_date({yi}, {mi}, CAST({dom} AS INT))"  # guarded by month and dom_ok

    date = f"""CASE
        WHEN NOT ({month} BETWEEN 1 AND 12) THEN CAST(NULL AS DATE)
        -- 0: the day of the month itself
        WHEN {op} = 0 THEN CASE WHEN {dom_ok} THEN {dom_date} END
        -- 1: target weekday on or after the day of the month
        WHEN {op} = 1 THEN CASE WHEN {dom_ok}
            THEN date_add({dom_date}, {_days_since(target_dow, dom_date)}) END
        -- 7: last occurrence of the weekday in the month
        WHEN {op} = 7 THEN date_sub({last_of_month},
            CAST(pmod({_dow_monday0(last_of_month)} - {target_dow}, 7) AS INT))
        -- 2-6: nth occurrence (may run past month end, as in the reference)
        ELSE date_add(date_add({first_of_month}, {_days_since(target_dow, first_of_month)}),
            CAST(({op} - 2) * 7 AS INT))
    END"""
    epoch = f"CAST(unix_date({date}) AS BIGINT) * 86400 + {hours} * 3600 + {seconds}"
    return f"""(CASE
        WHEN {rule} = 4294967295 THEN CAST(NULL AS BIGINT)
        WHEN NOT {valid_fields} THEN CAST(NULL AS BIGINT)
        ELSE {epoch}
    END)"""


def local_time_sql(unix: str, dst_start: str, dst_end: str,
                   dst_offset: str, tz_offset: str) -> str:
    """Shift naive-UTC reading seconds into provider-local seconds
    (lib.rs:157-162): +dst_offset when strictly inside the DST window
    (a NULL bound never is), then always +tz_offset."""
    unix = f"({unix})"
    return (
        f"({unix} + CASE WHEN {dst_start} < {unix} AND {unix} < {dst_end}"
        f" THEN {dst_offset} ELSE 0 END + coalesce({tz_offset}, 0))"
    )
