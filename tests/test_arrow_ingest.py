"""The sketch build's ingest at the Arrow boundary into the Python
workers, on the inputs where Arrow and pandas conversions part ways:
NULL string and timestamp group keys, a NULL client, a NULL event time
(as TIMESTAMP and as TIMESTAMP_NTZ), NaN and NULL values, a non-UTC
session zone, and long group keys beyond 2^53 next to a NULL.  Each
build runs with Spark's default Arrow batches and with one row per
batch; the pinned digests hold any change of the build's data
conversion to the rows it builds now."""

import hashlib
from contextlib import contextmanager

import numpy as np
import pytest
from pyspark.sql import functions as F

from honas_spark import SketchSpec, SketchState
from honas_spark import kernels as K
from honas_spark.operators import build_sketches, rollup_sketches

SPEC = SketchSpec(m_bits=1 << 12, k=4, num_filters=4, filters_per_user=2,
                  cms_width=64, kll_k=16)
T0 = 1_704_067_200_000_000  # 2024-01-01 00:00 UTC, in microseconds
DAY = 86_400_000_000
SKETCH_COLS = ("filters", "hll_clients", "hll_items", "cms", "n_rows")
OUT_COLS = ("s", "t") + SKETCH_COLS + ("kll", "first_ts", "last_ts")
# SHA-256 (first 16 hex digits) of each column of the shuffle_keys rows,
# sorted by group, as the mapInPandas build makes them
PINNED = {
    "s": "ae4fe6ae299dba69",
    "t": "4f90db47025b8571",
    "filters": "89c8184240b5a569",
    "hll_clients": "a4f481834014abb6",
    "hll_items": "df3e5177e9810474",
    "cms": "8440c67549344a36",
    "n_rows": "21e5e4242380fca1",
    "kll": "a788647cfce85c79",
    "first_ts": "1e555d64cc1fe94a",
    "last_ts": "288bccf081230c43",
}


@contextmanager
def _conf(spark, settings: dict):
    old = {k: spark.conf.get(k, None) for k in settings}
    for k, v in settings.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def _rows() -> list:
    """(s, t, key, client, ts, v): t and ts in microseconds or None."""
    return [
        (
            [None, "a", "b"][i % 3],
            [None, T0, T0 + DAY][i // 3 % 3],
            f"k{i % 37}",
            [None, "c1", "c2", "c3"][i % 4],
            None if i % 29 == 5 else T0 + i * 61_000_000,
            None if i % 7 == 3 else
            float("nan") if i % 11 == 4 else float(i % 19),
        )
        for i in range(90)
    ]


def _reference(rows) -> dict:
    """(s, t) -> the driver-side SketchState's fields, ts in us."""
    groups: dict = {}
    for s, t, *rest in rows:
        groups.setdefault((s, t), []).append(rest)
    out = {}
    for g, rs in groups.items():
        st = SketchState(SPEC)
        st.update(
            [hashlib.sha256(k.encode()).digest() for k, *_ in rs],
            client_hashes=K.murmur64a_series(
                np.array([c for _, c, *_ in rs], dtype=object)
            ),
        )
        fields = st.to_fields()
        ts = [r[2] for r in rs if r[2] is not None]
        out[g] = {c: fields[c] for c in SKETCH_COLS}
        out[g]["first_ts"] = min(ts, default=None)
        out[g]["last_ts"] = max(ts, default=None)
    return out


def _build_rows(spark, mode: str, ts_type: str) -> list:
    df = spark.createDataFrame(
        _rows(),
        "s string, t long, key string, client string, ts long, v double",
    ).select(
        "s", F.timestamp_micros("t").alias("t"),
        F.unhex(F.sha2("key", 256)).alias("key_sha"), "client",
        F.timestamp_micros("ts").cast(ts_type).alias("ts"), "v",
    )
    sk = build_sketches(df, SPEC, ["s", "t"], client_col="client",
                        ts_col="ts", value_col="v", mode=mode)
    out = sk.select(
        "s", F.unix_micros("t").alias("t"), *SKETCH_COLS, "kll",
        F.unix_micros("first_ts").alias("first_ts"),
        F.unix_micros("last_ts").alias("last_ts"),
    ).collect()
    rows = [
        {c: bytes(v) if isinstance(v, bytearray) else v
         for c, v in r.asDict().items()}
        for r in out
    ]
    return sorted(rows, key=lambda r: (
        r["s"] is not None, r["s"] or "", r["t"] is not None, r["t"] or 0
    ))


@pytest.mark.parametrize("ts_type", ["timestamp", "timestamp_ntz"])
@pytest.mark.parametrize("batch", [None, "1"])
@pytest.mark.parametrize("mode", ["map_combine", "shuffle_keys"])
def test_arrow_ingest_matches_driver_state(spark, mode, batch, ts_type):
    """A TIMESTAMP_NTZ event time holds the session zone's wall clock
    (here the cast of the TIMESTAMP column), and first_ts / last_ts read
    it in that zone: both columns give the same instants."""
    settings = {"spark.sql.session.timeZone": "America/Los_Angeles"}
    if batch:
        settings["spark.sql.execution.arrow.maxRecordsPerBatch"] = batch
    with _conf(spark, settings):
        rows = _build_rows(spark, mode, ts_type)
    want = _reference(_rows())
    assert sorted(want, key=str) == sorted(
        ((r["s"], r["t"]) for r in rows), key=str
    )
    assert len(want) == 9
    for r in rows:
        ref = want[(r["s"], r["t"])]
        for c, v in ref.items():
            assert r[c] == v, (r["s"], r["t"], c)
    if mode == "shuffle_keys":
        got = {
            c: hashlib.sha256(repr([r[c] for r in rows]).encode())
            .hexdigest()[:16]
            for c in OUT_COLS
        }
        assert got == PINNED


BIG = 1 << 53


def _long_keyed(spark, keys):
    df = spark.createDataFrame(
        [(g, f"k{i}", T0) for i, g in enumerate(keys)],
        "g long, key string, t long",
    )
    return df.select(
        "g", F.unhex(F.sha2("key", 256)).alias("key_sha"),
        F.timestamp_micros("t").alias("window_start"),
    )


def test_build_rejects_inexact_long_group_keys(spark):
    """One shuffle partition puts the NULL key in the same Arrow batch as
    the keys above 2^53, which a pandas worker receives as float64:
    2^53 + 1 would round onto 2^53 and the two groups merge, so the
    build raises a ValueError naming the column.  Without the NULL the
    keys stay int64 and exact."""
    keys = [BIG + 1, BIG + 2, BIG + 3, BIG]
    with _conf(spark, {"spark.sql.shuffle.partitions": "1"}):
        with pytest.raises(Exception, match="group column 'g' holds an"):
            build_sketches(_long_keyed(spark, keys + [None]), SPEC, ["g"],
                           mode="shuffle_keys").collect()
        out = build_sketches(
            _long_keyed(spark, keys), SPEC, ["g"], mode="shuffle_keys"
        ).select("g", "n_rows").collect()
    assert sorted((r.g, r.n_rows) for r in out) == [
        (BIG, 1), (BIG + 1, 1), (BIG + 2, 1), (BIG + 3, 1),
    ]


def test_merge_rejects_inexact_long_group_keys(spark):
    """Two builds that each keep their keys exact (one without a NULL,
    one of only the NULL key) meet in one rollup merge batch, where the
    long column turns float64: a ValueError names the column instead of
    merging rounded keys."""
    with _conf(spark, {"spark.sql.shuffle.partitions": "1"}):
        sk = [
            build_sketches(_long_keyed(spark, keys), SPEC,
                           ["window_start", "g"], mode="shuffle_keys")
            for keys in ([BIG + 1, BIG + 2, BIG], [None])
        ]
        assert sk[0].count() == 3 and sk[1].count() == 1
        with pytest.raises(Exception, match="group column 'g' holds an"):
            rollup_sketches(sk[0].unionByName(sk[1]), SPEC, "window_start",
                            "1 day", ["g"]).collect()
