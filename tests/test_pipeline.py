"""Pipeline-level Spark tests: ingest guard, checkpoint resume, prefix
join, text functions, corpus determinism."""

import os

import pytest
from pyspark.sql import functions as F

from honas_spark.spec import SketchSpec
from honas_spark.functions import text as T
from honas_spark.operators import build_sketches, sha256_key, with_window
from honas_spark.operators.prefix_join import longest_prefix_join
from honas_spark.sources.corpus import generate_corpus
from honas_spark.sources import checkpoint as CP

SPEC = SketchSpec(m_bits=1 << 16, k=5, window="1 hour",
                  cms_width=1024, kll_k=64)


def test_ingest_guard_sha256_equality(spark):
    """Per-row invariant (input_hint): content sha256 computed at the end
    of the ingest path equals the generation-time column — content
    survives every transformation un-mutated."""
    corpus = generate_corpus(spark, 3000, n_hours=4)
    staged = with_window(corpus, "commit_ts", SPEC.window)
    staged = staged.repartition(8, "repo")  # force a shuffle in between
    bad = staged.filter(
        F.sha2(F.col("content"), 256) != F.col("content_sha256")
    ).count()
    assert bad == 0
    assert staged.count() == 3000


def test_corpus_deterministic(spark):
    a = generate_corpus(spark, 500).orderBy("row_id").collect()
    b = generate_corpus(spark, 500).orderBy("row_id").collect()
    assert a == b
    # duplicate contents exist (dup_fraction) and skew exists
    df = generate_corpus(spark, 1000)
    n_distinct = df.select("content").distinct().count()
    assert n_distinct < 1000
    hot = df.filter(F.col("repo") == "org0/repo0").count()
    assert hot >= 250


def test_key_array_semantics(spark):
    df = spark.createDataFrame(
        [("SRC/Alpha/Bravo.PY/", "py", False), ("one", "c", False),
         ("a/b/c", "go", True)],
        "path string, lang string, ptr boolean",
    )
    rows = df.select(
        T.key_array(F.col("path"), F.col("lang"), "/", F.col("ptr")).alias("k")
    ).collect()
    # canonicalized: lowercase, trailing sep stripped; labels except last;
    # SLD analog; entity variants
    assert set(rows[0]["k"]) == {
        "src/alpha/bravo.py", "src", "alpha", "alpha/bravo.py",
        "py@src/alpha/bravo.py", "py@src", "py@alpha",
    }
    # single label: no labels, no SLD
    assert set(rows[1]["k"]) == {"one", "c@one"}
    # PTR mode: full name + entity variant only
    assert set(rows[2]["k"]) == {"a/b/c", "go@a/b/c"}


def test_longest_prefix_join(spark):
    """Port of the subnet-activity LPM expectations
    (tests/subnet_activity.c:53-122): longest registered prefix wins;
    unmatched stays null."""
    fact = spark.createDataFrame(
        [(0, "org0/repo1/x"), (1, "org0/zzz"), (2, "org9/nothing"),
         (3, "org0/repo1")],
        "row_id long, key string",
    )
    dim = spark.createDataFrame(
        [("org0/", "OrgZero"), ("org0/repo1", "TeamOne")],
        "prefix string, entity string",
    )
    out = {
        r["row_id"]: r["matched_entity"]
        for r in longest_prefix_join(fact, dim, "key").collect()
    }
    assert out == {0: "TeamOne", 1: "OrgZero", 2: None, 3: "TeamOne"}


def test_quality_features_and_fingerprint(spark):
    df = spark.createDataFrame(
        [(1, "The quick  brown fox. The fox!"), (2, "the QUICK brown fox. the fox!  ")],
        "id long, text string",
    )
    q = T.quality_features(df, "text").collect()
    r = {row["id"]: row for row in q}
    assert r[1]["n_tokens"] == 6
    assert r[1]["n_stopwords"] == 2  # 'the' twice (case-sensitive lower later)
    assert r[1]["n_punct"] == 2
    # fingerprint: whitespace/case-insensitive duplicate detection
    fp = df.select("id", T.fingerprint(F.col("text")).alias("fp")).collect()
    fps = {row["id"]: row["fp"] for row in fp}
    assert fps[1] == fps[2]


def test_checkpoint_resume(spark, tmp_path):
    root = str(tmp_path / "ckpt")
    corpus = generate_corpus(spark, 1200, n_hours=3)
    keyed = sha256_key(
        with_window(corpus, "commit_ts", SPEC.window), "path"
    )

    calls = []

    def build_fn(wdf):
        calls.append(1)
        return build_sketches(
            wdf, SPEC, group_cols=["window_start"], client_col="repo",
            ts_col="commit_ts",
        )

    t1 = CP.build_resumable(
        spark, keyed, SPEC, root, "window_start", [], build_fn, run_id="r1"
    )
    assert t1.count() == 3
    # all missing windows build in ONE pass (one build_fn call), not one
    # raw-table scan per window
    assert len(calls) == 1
    # resume: nothing rebuilt, build_fn never invoked
    t2 = CP.build_resumable(
        spark, keyed, SPEC, root, "window_start", [], build_fn, run_id="r2"
    )
    assert t2.count() == 3
    assert len(calls) == 1, "resume must skip committed windows"
    # drop one window's manifest -> only that one rebuilds
    victim = sorted(
        d for d in os.listdir(root) if d.startswith("window=")
    )[0]
    os.remove(os.path.join(root, victim, "manifest.json"))
    t3 = CP.build_resumable(
        spark, keyed, SPEC, root, "window_start", [], build_fn, run_id="r3"
    )
    assert t3.count() == 3
    assert len(calls) == 2
    # spec round-trips through the manifest
    assert CP.read_spec(root) == SPEC


def test_checkpoint_stale_fingerprint_rebuilds(spark, tmp_path):
    """A committed window whose input slice changed since commit must be
    rebuilt (manifest fingerprint mismatch), not silently reused."""
    import json

    root = str(tmp_path / "ckpt2")
    corpus = generate_corpus(spark, 800, n_hours=2)
    keyed = sha256_key(
        with_window(corpus, "commit_ts", SPEC.window), "path"
    )
    calls = []

    def build_fn(wdf):
        calls.append(1)
        return build_sketches(
            wdf, SPEC, group_cols=["window_start"], client_col="repo",
            ts_col="commit_ts",
        )

    CP.build_resumable(
        spark, keyed, SPEC, root, "window_start", [], build_fn, run_id="a"
    )
    assert len(calls) == 1
    # tamper with one manifest's fingerprint -> that window is stale
    victim = sorted(
        d for d in os.listdir(root) if d.startswith("window=")
    )[0]
    mpath = os.path.join(root, victim, "manifest.json")
    with open(mpath) as f:
        m = json.load(f)
    m["input_fingerprint"] = "n=0,xor=0"
    with open(mpath, "w") as f:
        json.dump(m, f)
    t = CP.build_resumable(
        spark, keyed, SPEC, root, "window_start", [], build_fn, run_id="b"
    )
    assert len(calls) == 2, "stale window must rebuild"
    assert t.count() == 2


def test_checkpoint_failed_recommit_keeps_previous_version(
    spark, tmp_path, monkeypatch
):
    """Re-committing a window swaps the new version in crash-safely: if
    the tmp -> final rename fails after the old version was moved aside,
    recovery rolls the old version back and it is still read (and
    listed as done)."""
    root = str(tmp_path / "ckpt3")
    corpus = generate_corpus(spark, 600, n_hours=2)
    keyed = sha256_key(
        with_window(corpus, "commit_ts", SPEC.window), "path"
    )

    def build_fn(wdf):
        return build_sketches(wdf, SPEC, group_cols=["window_start"])

    table = CP.build_resumable(
        spark, keyed, SPEC, root, "window_start", [], build_fn, run_id="a"
    )
    before = table.collect()
    assert len(before) == 2
    w = before[0]["window_start"]
    real_rename = os.rename

    def failing_rename(src, dst):
        if ".tmp-" in os.path.basename(src):
            raise OSError("simulated crash before the publish rename")
        real_rename(src, dst)

    # a different, two-row version of the window
    both = spark.createDataFrame(before, table.schema).withColumn(
        "window_start", F.lit(w)
    )
    fields = {"spec": SPEC.to_dict(), "input_fingerprint": "fp"}
    with monkeypatch.context() as m:
        m.setattr(os, "rename", failing_rename)
        with pytest.raises(OSError, match="simulated crash"):
            CP.write_windows(root, both, "window_start", fields, run_id="b")
    after = CP.read_checkpoint(spark, root).collect()
    assert sorted(r["window_start"] for r in after) == sorted(
        r["window_start"] for r in before
    )
    done = CP.list_done_windows(root)
    assert len(done) == 2
    assert {m["run_id"] for m in done.values()} == {"a"}
    assert not [n for n in os.listdir(root) if not n.startswith(
        ("window=", "_spec")) or n.endswith(".old") or ".tmp-" in n]


@pytest.mark.parametrize("kw,stream", [
    (dict(mode="shuffle_key"), False),
    (dict(mode="map_combine", salt=8), False),
    (dict(mode="shuffle_keys", salt=0), False),
    (dict(mode="shuffle_keys", salt=True), False),
    (dict(mode="shuffle_keys", salt=2.5), False),
    (dict(mode="shuffle_keys", salt=8), True),
], ids=["unknown_mode", "salt_with_map_combine", "salt_below_one",
        "salt_bool", "salt_float", "salt_on_stream"])
def test_build_sketches_rejects_bad_mode_and_salt(spark, kw, stream):
    """A misspelt mode, a salt map_combine would ignore, a salt below 1,
    a bool or float salt and a salt on a streaming frame (its hot-group
    count is a batch action) are errors, not a silently different
    plan."""
    if stream:
        df = spark.readStream.format("rate").load().select(
            F.lit(0).alias("g"), F.unhex(F.lit("00" * 32)).alias("key_sha")
        )
        assert df.isStreaming
    else:
        df = spark.createDataFrame(
            [(0, b"\0" * 32)], "g int, key_sha binary"
        )
    with pytest.raises(ValueError):
        build_sketches(df, SPEC, ["g"], **kw)


def test_flatten_semantics(spark):
    """D1: sketches whose client estimate is below the threshold clamp
    hit counts to 0/1."""
    from honas_spark.search import make_search_job, run_search

    spec = SketchSpec(
        m_bits=1 << 16, k=5, num_filters=4, filters_per_user=4,
        flatten_threshold=50, cms_width=1024, kll_k=64,
    )
    df = spark.createDataFrame(
        [("r1", "solo/key/x", "2024-01-01 00:05:00")],
        "repo string, path string, ts_s string",
    ).withColumn("commit_ts", F.to_timestamp("ts_s"))
    keyed = sha256_key(
        with_window(df, "commit_ts", spec.window), "path"
    )
    sk = build_sketches(
        keyed, spec, group_cols=["window_start"], client_col="repo",
        ts_col="commit_ts",
    )
    job = make_search_job({1: ["solo/key/x"]})
    key_df, _ = run_search(sk, spec, job, ["window_start"])
    rows = key_df.collect()
    assert len(rows) == 1
    assert rows[0]["flattened"] is True
    assert rows[0]["hits"] == 1  # clamped from u=4


def test_flatten_on_hostnames_reproduces_reference_compare(spark):
    """Quirk Q2 strict-parity knob: flatten_on='hostnames' compares the
    HOSTNAME estimate like the reference binary (honas_search.c:378),
    while the default compares the client estimate per the documented
    privacy intent.  A state with 1 client but many hostnames straddles
    a threshold between the two, so the modes must disagree."""
    from honas_spark.search import make_search_job, run_search

    spec = SketchSpec(
        m_bits=1 << 16, k=5, num_filters=4, filters_per_user=4,
        flatten_threshold=50, cms_width=1024, kll_k=64,
    )
    rows = [
        ("r1", f"many/keys/{i}", "2024-01-01 00:05:00") for i in range(200)
    ]
    df = spark.createDataFrame(
        rows, "repo string, path string, ts_s string"
    ).withColumn("commit_ts", F.to_timestamp("ts_s"))
    keyed = sha256_key(with_window(df, "commit_ts", spec.window), "path")
    sk = build_sketches(
        keyed, spec, group_cols=["window_start"], client_col="repo",
        ts_col="commit_ts",
    )
    job = make_search_job({1: ["many/keys/0"]})
    by_clients, _ = run_search(sk, spec, job, ["window_start"])
    by_hosts, _ = run_search(
        sk, spec, job, ["window_start"], flatten_on="hostnames"
    )
    rc, rh = by_clients.first(), by_hosts.first()
    assert rc["flattened"] is True and rc["hits"] == 1   # 1 client < 50
    assert rh["flattened"] is False and rh["hits"] == 4  # ~200 names > 50


def test_verify_content_sha_guard(spark):
    """North-rule ingest guard: recomputed sha2 equality flags/drops/fails
    on corrupted rows."""
    import pytest
    from pyspark.sql import functions as F
    from honas_spark.sources.corpus import generate_corpus, verify_content_sha

    df = generate_corpus(spark, 200, n_hours=1)
    corrupted = df.withColumn(
        "content_sha256",
        F.when(
            F.col("row_id") % 50 == 0,
            F.sha2(F.concat(F.col("content"), F.lit("!")), 256),
        ).otherwise(F.col("content_sha256")),
    )
    clean, counts = verify_content_sha(df)
    assert clean.count() == 200
    assert counts.collect()[0]["n_mismatched"] == 0

    dropped, counts = verify_content_sha(corrupted, on_mismatch="drop")
    assert dropped.count() == 196
    assert counts.collect()[0]["n_mismatched"] == 4

    flagged, _ = verify_content_sha(corrupted, on_mismatch="flag")
    assert flagged.filter("NOT sha_ok").count() == 4

    with pytest.raises(ValueError, match="4 corrupted"):
        verify_content_sha(corrupted, on_mismatch="fail")


def test_build_modes_bit_identical_under_skew(spark):
    """All three physical build plans — map_combine, shuffle_keys, and
    shuffle_keys+salt — must produce bit-identical sketch rows on the
    skewed corpus (30% of rows in one hot repo): mode/salt are pure
    performance knobs, never semantics."""
    corpus = generate_corpus(spark, 2000, n_hours=2)
    keyed = sha256_key(
        with_window(corpus, "commit_ts", SPEC.window), "path"
    )
    kw = dict(
        group_cols=["window_start"], client_col="repo", ts_col="commit_ts"
    )
    variants = {
        "map_combine": build_sketches(keyed, SPEC, mode="map_combine", **kw),
        "shuffle_keys": build_sketches(keyed, SPEC, mode="shuffle_keys", **kw),
        "salted": build_sketches(
            keyed, SPEC, mode="shuffle_keys", salt=8, **kw
        ),
    }
    # two hours of ~50% of the rows each: both are hot on a 4-partition
    # session, so the salted variant still runs the merge stage
    plan = variants["salted"]._jdf.queryExecution().optimizedPlan()
    assert "merge_all" in plan.toString()
    collected = {
        name: {str(r["window_start"]): r for r in df.collect()}
        for name, df in variants.items()
    }
    base = collected["map_combine"]
    assert len(base) == 2
    for name in ("shuffle_keys", "salted"):
        other = collected[name]
        assert other.keys() == base.keys(), name
        for w in base:
            for col in ("filters", "hll_clients", "hll_items", "cms",
                        "n_rows", "first_ts", "last_ts"):
                assert other[w][col] == base[w][col], (name, w, col)
