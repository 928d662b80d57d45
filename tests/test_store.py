"""The sketch store (sources/checkpoint.py): window keys across a DST
fall-back, one write job per build or rotation, and stores written in
the earlier layouts (tests/data/store_*, see FIXTURES.md §9)."""

import json
import os
import shutil
import time
from contextlib import contextmanager
from datetime import datetime, timedelta

import pytest
from pyspark.sql import functions as F

from honas_spark.cli import main
from honas_spark.operators import build_sketches, sha256_key, with_window
from honas_spark.sources import checkpoint as CP
from honas_spark.sources.corpus import generate_corpus
from honas_spark.spec import SketchSpec
from honas_spark.streaming.stream import StreamingSketchBuilder

SPEC = SketchSpec(m_bits=1 << 14, k=5, window="1 hour",
                  cms_width=256, kll_k=64)
DATA = os.path.join(os.path.dirname(__file__), "data")
# the spec, input and grouping the committed store fixtures were built with
FIXTURE_SPEC = SketchSpec(m_bits=1 << 12, k=3, window="1 hour",
                          cms_width=64, kll_k=16)
FIXTURE_GROUPS = ["window_start", "lang"]


def _build_fn(wdf):
    return build_sketches(
        wdf, SPEC, group_cols=["window_start"], client_col="repo",
        ts_col="commit_ts",
    )


@contextmanager
def _driver_tz(zone):
    """Run the body with the driver's local time zone set to `zone`."""
    old_tz = os.environ.get("TZ")
    os.environ["TZ"] = zone
    time.tzset()
    try:
        yield
    finally:
        if old_tz is None:
            del os.environ["TZ"]
        else:
            os.environ["TZ"] = old_tz
        time.tzset()


def _jobs(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, "store job-count probe")
    try:
        fn()
    finally:
        sc.setJobGroup(None, None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_dst_fall_back_keeps_both_hours(spark, tmp_path):
    """2024-10-27 00:00 and 01:00 UTC are both 02:00 in Amsterdam (the
    DST fall-back).  With the driver in that zone each hour must still
    be its own window: keys come from the session zone, not from a
    driver-side datetime."""
    root = str(tmp_path / "ckpt")
    fall_back = 1729987200  # 2024-10-27T00:00:00Z
    rows = spark.range(40).select(
        F.timestamp_seconds(F.lit(fall_back) + F.col("id") * 180)
        .alias("commit_ts"),
        F.concat(F.lit("k/"), F.col("id").cast("string")).alias("path"),
        F.lit("r").alias("repo"),
    )
    keyed = sha256_key(with_window(rows, "commit_ts", SPEC.window), "path")
    with _driver_tz("Europe/Amsterdam"):
        table = CP.build_resumable(
            spark, keyed, SPEC, root, "window_start", [], _build_fn
        )
        n_rows = sorted(r["n_rows"] for r in table.collect())
    assert CP.window_dirs(root) == [
        "window=2024-10-27T00-00-00", "window=2024-10-27T01-00-00"
    ]
    assert n_rows == [20, 20]


def test_build_and_rotate_write_once_for_all_windows(spark, tmp_path):
    """A build over 24 hourly windows and its rotation to one day issue
    a fixed number of Spark jobs each — one write job for all windows,
    not one per window."""
    root = str(tmp_path / "hourly")
    keyed = sha256_key(
        with_window(
            generate_corpus(spark, 2000, n_hours=24), "commit_ts",
            SPEC.window,
        ),
        "path",
    )
    build_jobs = _jobs(spark, "build24", lambda: CP.build_resumable(
        spark, keyed, SPEC, root, "window_start", [], _build_fn
    ))
    assert len(CP.window_dirs(root)) == 24
    out = str(tmp_path / "daily")
    rotate_jobs = _jobs(spark, "rotate24", lambda: main([
        "rotate", "--state", root, "--output", out, "--period", "1 day",
    ]))
    assert CP.window_dirs(out) == ["window=2024-01-01T00-00-00"]
    # fixed sets of actions, each split into AQE stage jobs; one commit
    # per window would add at least 24
    assert build_jobs <= 16, f"{build_jobs} jobs to build 24 windows"
    assert rotate_jobs <= 12, f"{rotate_jobs} jobs to rotate 24 windows"


def _fixture_batch(spark):
    return sha256_key(
        with_window(
            generate_corpus(spark, 200, n_hours=2), "commit_ts",
            FIXTURE_SPEC.window,
        ),
        "path",
    ).select("window_start", "key_sha", "lang", "repo", "commit_ts")


def _by_group(df):
    return {
        tuple(r[c] for c in FIXTURE_GROUPS): r.asDict()
        for r in df.collect()
    }


@pytest.mark.parametrize("store", [
    "store_checkpoint", os.path.join("store_stream_legacy", "sketches"),
])
def test_read_committed_store_fixture(spark, store):
    """Both committed layouts read back bit-exactly as a fresh build of
    the same input."""
    got = _by_group(CP.read_checkpoint(spark, os.path.join(DATA, store)))
    fresh = _by_group(build_sketches(
        _fixture_batch(spark), FIXTURE_SPEC, FIXTURE_GROUPS,
        client_col="repo", ts_col="commit_ts",
    ))
    assert len({g[0] for g in got}) == 2
    assert got == fresh
    if store == "store_checkpoint":
        assert CP.read_spec(os.path.join(DATA, store)) == FIXTURE_SPEC


def test_stream_merges_into_earlier_stream_layout(spark, tmp_path):
    """A streaming store in the earlier layout (Parquet files and
    `_manifest.json` directly in `window=KEY/`, written at epoch 0) is
    merged into, not replaced: a replay of epoch 0 is skipped, and a new
    epoch adds its counts to the old windows."""
    store = str(tmp_path / "stream")
    shutil.copytree(os.path.join(DATA, "store_stream_legacy"), store)
    builder = StreamingSketchBuilder(
        FIXTURE_SPEC, store, group_cols=["lang"], client_col="repo",
        ts_col="commit_ts",
    )
    before = _by_group(builder.read_store(spark))
    batch = _fixture_batch(spark)
    builder.process_batch(batch, epoch_id=0)
    assert _by_group(builder.read_store(spark)) == before
    builder.process_batch(batch, epoch_id=1)
    after = _by_group(builder.read_store(spark))
    assert after.keys() == before.keys()
    for g, row in before.items():
        assert after[g]["n_rows"] == 2 * row["n_rows"]
        assert after[g]["filters"] == row["filters"]
    root = builder._store_path()
    for name in CP.window_dirs(root):
        with open(os.path.join(root, name, "manifest.json")) as f:
            assert json.load(f)["last_epoch_id"] == 1


def test_window_key_formats(spark):
    """TIMESTAMP and TIMESTAMP_NTZ windows get the same key, with the
    microseconds spelled out when a window starts between seconds."""
    row = spark.sql(
        "SELECT timestamp'2024-01-01 00:00:00.5' AS t,"
        " timestamp_ntz'2024-01-01 00:00:00.5' AS n,"
        " timestamp_ntz'2024-01-01 01:00:00' AS w"
    ).select(CP.window_key("t"), CP.window_key("n"), CP.window_key("w"))
    assert list(row.first()) == [
        "2024-01-01T00-00-00.500000", "2024-01-01T00-00-00.500000",
        "2024-01-01T01-00-00",
    ]


def _fixture_build_fn(wdf):
    return build_sketches(
        wdf, FIXTURE_SPEC, FIXTURE_GROUPS, client_col="repo",
        ts_col="commit_ts",
    )


def _keyed_in_amsterdam(root, manifest_name):
    """Re-key a copy of a store fixture (keyed in UTC) the way the earlier
    code keyed it with the driver in Europe/Amsterdam, UTC+1 in January:
    each window's dir and manifest `window` name its local hour."""
    for name in reversed(CP.window_dirs(root)):
        path = os.path.join(root, name, manifest_name)
        with open(path) as f:
            manifest = json.load(f)
        local = datetime.fromisoformat(manifest["window"]) + timedelta(hours=1)
        manifest["window"] = str(local)
        with open(path, "w") as f:
            json.dump(manifest, f)
        os.rename(
            os.path.join(root, name),
            os.path.join(root, local.strftime("window=%Y-%m-%dT%H-%M-%S")),
        )
    return CP.window_dirs(root)


def test_store_keyed_in_another_zone_is_refused(spark, tmp_path):
    """A build resumed over a store that earlier code keyed in the
    driver's local zone fails instead of adding a second copy of each
    window under its UTC key; `rotate` re-keys such a store."""
    root = str(tmp_path / "ckpt")
    shutil.copytree(os.path.join(DATA, "store_checkpoint"), root)
    local_dirs = _keyed_in_amsterdam(root, "manifest.json")
    assert local_dirs == [
        "window=2024-01-01T01-00-00", "window=2024-01-01T02-00-00"
    ]
    batch = _fixture_batch(spark)
    with _driver_tz("Europe/Amsterdam"):
        with pytest.raises(ValueError, match="another time zone"):
            CP.build_resumable(
                spark, batch, FIXTURE_SPEC, root, "window_start", ["lang"],
                _fixture_build_fn,
            )
    assert CP.window_dirs(root) == local_dirs
    out = str(tmp_path / "rekeyed")
    main(["rotate", "--state", root, "--output", out, "--period", "1 hour"])
    assert CP.window_dirs(out) == [
        "window=2024-01-01T00-00-00", "window=2024-01-01T01-00-00"
    ]
    assert _by_group(CP.read_checkpoint(spark, out)) == _by_group(
        CP.read_checkpoint(spark, os.path.join(DATA, "store_checkpoint"))
    )


def test_stream_keyed_in_another_zone_is_refused(spark, tmp_path):
    """The same guard for a streaming store in the earlier layout: the
    first batch fails before anything is written."""
    store = str(tmp_path / "stream")
    shutil.copytree(os.path.join(DATA, "store_stream_legacy"), store)
    root = os.path.join(store, "sketches")
    local_dirs = _keyed_in_amsterdam(root, "_manifest.json")
    builder = StreamingSketchBuilder(
        FIXTURE_SPEC, store, group_cols=["lang"], client_col="repo",
        ts_col="commit_ts",
    )
    with _driver_tz("Europe/Amsterdam"):
        with pytest.raises(ValueError, match="another time zone"):
            builder.process_batch(_fixture_batch(spark), epoch_id=1)
    assert CP.window_dirs(root) == local_dirs


def test_store_keyed_in_utc_resumes_in_another_zone(spark, tmp_path):
    """A store in the earlier layout keyed in UTC resumes under any
    driver zone: nothing is rebuilt and no window is added."""
    root = str(tmp_path / "ckpt")
    shutil.copytree(os.path.join(DATA, "store_checkpoint"), root)
    with _driver_tz("Europe/Amsterdam"):
        table = CP.build_resumable(
            spark, _fixture_batch(spark), FIXTURE_SPEC, root, "window_start",
            ["lang"], _fixture_build_fn,
        )
    # collected in UTC, as the fixture's rows below
    got = _by_group(table)
    assert CP.window_dirs(root) == CP.window_dirs(
        os.path.join(DATA, "store_checkpoint")
    )
    assert {m["run_id"] for m in CP.list_done_windows(root).values()} == {
        "fixture"
    }
    assert got == _by_group(
        CP.read_checkpoint(spark, os.path.join(DATA, "store_checkpoint"))
    )
