"""Info/diagnostics sinks (S8/S9) + sizing advice (D3).

S8: honas-info's human-readable and CSV (`--plotmode`) dumps of the
state header (src/bin/honas_info.c:60-105) over our sketch table.
D3: the dry-run sizing advice block (src/advice.c:30-51 +
src/bin/honas_gather.c:1150-1212): given the largest hourly and daily
distinct counts, the (m, k) at the three target FPRs, rounded up to the
next 1e5 with the reference's 10% headroom."""

from __future__ import annotations

import math
from typing import Sequence

from pyspark.sql import DataFrame

from . import kernels as K
from .spec import SketchSpec
from .operators.sketch_agg import finalize_stats


def _optimal_k_ref(n: int, m: int) -> int:
    """The reference's optimal_k (src/advice.c:37-45) — NOTE `m / n` is C
    INTEGER division (both args int), which is why the README example
    prints k=16 where true-ratio math gives 17.  Reproduced exactly for
    text-level parity of the advice block."""
    return math.ceil((m // n) * math.log(2)) if n > 0 else 0


def render_advice_block(
    hourly_max: int, daily_max: int, date_str: str
) -> str:
    """The dry-run advice block, field-for-field the reference's format
    (src/bin/honas_gather.c:1150-1212, example README.md:639-656):
    m = roundUp(bloom_filter_size(p, n), 1e5) printed with the 10%
    tolerance applied (C truncates the double), k from the integer-ratio
    optimal_k above."""
    lines = [
        "------------------------------------ Advice"
        " ------------------------------------",
        f"[{date_str}] The numbers are rounded up to the nearest"
        " hundred-thousand, and a tolerance of 10 percent is added.",
        "-------------------------------- Hourly Filters"
        " --------------------------------",
    ]

    def family(n: int) -> None:
        for p, label in (
            (1e-3, "1 / 1000"), (1e-4, "1 / 10000"), (1e-5, "1 / 100000")
        ):
            m = int(math.ceil(K.bloom_filter_size(p, n) / 100_000)) * 100_000
            k = _optimal_k_ref(n, m)
            lines.append(
                f"[{date_str}] For a false positive rate of {label},"
                f" BF size (m) should be {int(m * 1.1)},"
                f" based on {n} unique domain names"
            )
            lines.append(
                f"[{date_str}] The number of hash functions (k)"
                f" should be {k}"
            )

    family(hourly_max)
    lines.append(
        "-------------------------------- Daily Filters"
        " ---------------------------------"
    )
    family(daily_max)
    lines.append(
        "-------------------------------------- End"
        " -------------------------------------"
    )
    return "\n".join(lines)


def dry_run_counters(
    df: DataFrame, key_col: str, ts_col: str, rsd: float = 0.0081
) -> tuple[list, list]:
    """The gather dry-run's hourly/daily distinct counters
    (honas_gather.c:1216-1263) over a keyed DataFrame: one aggregation
    per granularity, distinct keys estimated with Spark's HLL++
    (`approx_count_distinct`, rsd matched to the reference's P=14
    register error ~0.81%).  Returns ([(window, distinct, total)], same
    daily) sorted by window — bounded output, one row per period."""
    from pyspark.sql import functions as F

    def counters(period: str) -> list:
        rows = (
            df.groupBy(F.window(F.col(ts_col), period)["start"].alias("w"))
            .agg(
                F.approx_count_distinct(key_col, rsd).alias("distinct_keys"),
                F.count(F.lit(1)).alias("total_rows"),
            )
            .orderBy("w")
            .collect()
        )
        return [(r["w"], int(r["distinct_keys"]), int(r["total_rows"]))
                for r in rows]

    return counters("1 hour"), counters("1 day")


def render_info_text(spec: SketchSpec, header: dict) -> str:
    """The honas-info human dump, field-for-field
    (src/bin/honas_info.c:69-105: version/period/configuration blocks +
    per-filter bits/estimate/fill/FPR lines with the same widths and
    precision).  Timestamps render in UTC — the engine's fixed timezone
    — where the reference uses localtime()."""
    import datetime as _dt

    from honas_spark import __version__

    def ts(v: int) -> str:
        return _dt.datetime.fromtimestamp(
            int(v), _dt.timezone.utc
        ).strftime("%Y-%m-%dT%H:%M:%S")

    L = [
        "",
        "## Version information ##",
        "",
        f"Node version      : {__version__}",
        f"State file version: {header['major']}.{header['minor']}",
        "",
        "## Period information ##",
        "",
        f"Period begin                  : {ts(header['period_begin'])}",
        f"First request                 : {ts(header['first_request'])}",
        f"Last request                  : {ts(header['last_request'])}",
        f"Period end                    : {ts(header['period_end'])}",
        "Estimated number of clients   : "
        f"{header['estimated_number_of_clients']}",
        "Estimated number of host names: "
        f"{header['estimated_number_of_host_names']} ",
        f"Number of requests            : {header['number_of_requests']}",
        "",
        "## Filter configuration ##",
        "",
        f"Number of filters         : {spec.num_filters}",
        f"Number of filters per user: {spec.filters_per_user}",
        f"Number of hashes          : {spec.k}",
        f"Number of bits per filter : {spec.m_bits}",
        f"Flatten threshold         : {spec.flatten_threshold}",
        "",
        "## Filter information ##",
        "",
    ]
    for i, bits in enumerate(header["filter_bits_set"]):
        est = K.bloom_approx_count(spec.m_bits, spec.k, int(bits))
        fr = K.fill_rate(spec.m_bits, int(bits))
        L.append(
            f"{i + 1:2d}. Number of bits set: {bits:10d}"
            f" (Estimated number of host names: {est:10d})"
        )
        L.append(
            f"    Fill Rate:        {fr:.10f}"
            f" (False positive probability:   {fr ** spec.k:.20f})"
        )
    L.append("")
    return "\n".join(L)


def render_plot_lines(header: dict) -> str:
    """honas-info --plotmode for one state: `period_begin,estimate` per
    filter (honas_info.c:59-67)."""
    # spec fields ride in the header dict for .hs states
    m_bits, k = header["m_bits"], header["k"]
    return "\n".join(
        f"{header['period_begin']},"
        f"{K.bloom_approx_count(m_bits, k, int(b))}"
        for b in header["filter_bits_set"]
    )


def write_plotmode_csv(
    sketch_df: DataFrame,
    spec: SketchSpec,
    group_cols: Sequence[str],
    path: str,
) -> None:
    # one row per sketch group (bounded) -> a single CSV FILE like the
    # reference's --plotmode output, not a Spark part-file directory
    rows = finalize_stats(sketch_df, spec, group_cols).collect()
    import csv

    with open(path, "w", newline="") as f:
        if rows:
            w = csv.DictWriter(f, fieldnames=list(rows[0].asDict()))
            w.writeheader()
            for r in rows:
                w.writerow(r.asDict())


def fpr_report_rows(
    states_dir: str, pattern: str = "*.hs", utc: bool = True
):
    """Actual-vs-theoretical FPR series over archived daily states
    (scripts/honas_actual_theoretical_fp.py:27-49): per state file,
    (unix timestamp from the filename date, actual FPR, fill rate) of
    the first filter — exactly the two floats the reference script
    regexes out of honas-info's first 'Fill Rate:' line.  Filenames
    must carry an ISO date/datetime stem like the reference archive
    (2018-07-01.hs or 2018-07-01T04-00-00.hs).

    utc=True (default) interprets the date stem as UTC, so the CSV is
    byte-identical on any machine; utc=False reproduces the reference
    script's quirk of using the local timezone (its naive
    time.mktime-style conversion), which makes the time column depend
    on where the report is generated — only for bit-parity diffing
    against an archive built by the reference script on a known-TZ
    host."""
    import glob
    import os
    from datetime import datetime, timezone

    from . import kernels as K
    from .sources.hsfile import HEADER_READ_SIZE, read_hs_header

    rows = []
    for path in sorted(glob.glob(os.path.join(states_dir, pattern))):
        # stem = basename up to the first dot (date stems contain no
        # dots) — NOT a fixed-length ".hs" slice, which silently chops
        # the wrong characters for other --pattern suffixes
        stem = os.path.basename(path).split(".", 1)[0]
        ts = None
        for fmt in ("%Y-%m-%d", "%Y-%m-%dT%H-%M-%S", "%Y-%m-%dT%H:%M:%S"):
            try:
                dt = datetime.strptime(stem, fmt)
                if utc:
                    dt = dt.replace(tzinfo=timezone.utc)
                ts = int(dt.timestamp())
                break
            except ValueError:
                continue
        with open(path, "rb") as f:
            h = read_hs_header(f.read(HEADER_READ_SIZE))
        if ts is None:  # non-date stem: fall back to the header period
            ts = int(h["period_begin"])
        bits = int(h["filter_bits_set"][0])
        rows.append((
            ts,
            K.actual_fpr(h["m_bits"], h["k"], bits),
            K.fill_rate(h["m_bits"], bits),
        ))
    return rows


def fpr_report_csv(
    states_dir: str, pattern: str = "*.hs", utc: bool = True
) -> str:
    """Render fpr_report_rows as the reference script's
    act_vs_theor_fpr.csv (header `time,actfpr,fillrate`)."""
    lines = ["time,actfpr,fillrate"]
    for ts, fpr, fr in fpr_report_rows(states_dir, pattern, utc):
        lines.append(f"{ts},{fpr:.10f},{fr:.10f}")
    return "\n".join(lines) + "\n"
