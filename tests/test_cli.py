"""CLI round trip: gather -> info/plotmode -> search -> export-hs ->
combine (the four reference binaries + the checkpoint bridge)."""

import json
import os

import pytest

from honas_spark.cli import main
from honas_spark.sources.corpus import generate_corpus


@pytest.fixture(scope="module")
def corpus_dir(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("cli") / "corpus")
    generate_corpus(spark, 1500, n_hours=2).write.mode(
        "overwrite"
    ).parquet(path)
    return path


@pytest.fixture(scope="module")
def ckpt_dir(spark, corpus_dir, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("cli") / "ckpt")
    rc = main([
        "gather", "--input", corpus_dir, "--output", out,
        "--m-bits", str(1 << 16), "--k", "5", "--window", "1 hour",
        "--client-col", "repo",
    ])
    assert rc == 0
    return out


def test_gather_writes_metrics_and_manifests(ckpt_dir):
    with open(os.path.join(ckpt_dir, "_metrics.json")) as f:
        m = json.load(f)
    assert m["n_processed_queries"] == 1500
    assert m["n_accepted_queries"] + m["n_skipped_queries"] == 1500
    assert "per_type" in m and m["n_queries_sec"] > 0
    wins = [d for d in os.listdir(ckpt_dir) if d.startswith("window=")]
    assert len(wins) == 2
    for w in wins:
        with open(os.path.join(ckpt_dir, w, "manifest.json")) as f:
            man = json.load(f)
        assert man["input_fingerprint"].startswith("n=")


def test_gather_rejects_unknown_mode(tmp_path, capsys):
    """--mode is one of the two build plans; a typo is a usage error."""
    with pytest.raises(SystemExit) as exc:
        main(["gather", "--input", str(tmp_path), "--output",
              str(tmp_path / "out"), "--mode", "shuffle_key"])
    assert exc.value.code == 2
    assert "invalid choice" in capsys.readouterr().err


@pytest.mark.parametrize("args", [
    ["--salt", "4"], ["--mode", "shuffle_keys", "--salt", "0"],
], ids=["salt_with_map_combine", "salt_below_one"])
def test_gather_rejects_bad_salt_before_reading(tmp_path, capsys, args):
    """--salt needs --mode shuffle_keys and a value >= 1: a usage error
    before any input is read (the input path does not exist)."""
    with pytest.raises(SystemExit) as exc:
        main(["gather", "--input", str(tmp_path / "missing"), "--output",
              str(tmp_path / "out"), *args])
    assert exc.value.code == 2
    assert "--salt needs --mode shuffle_keys" in capsys.readouterr().err
    assert not os.path.exists(tmp_path / "out")


def test_info_plotmode_csv(ckpt_dir, tmp_path):
    csv = str(tmp_path / "plot.csv")
    assert main(["info", "--state", ckpt_dir, "--plotmode", csv]) == 0
    lines = open(csv).read().strip().splitlines()
    assert len(lines) >= 3  # header + 2 windows


def test_search_cli_finds_member(spark, corpus_dir, ckpt_dir, tmp_path):
    import hashlib

    path = (
        spark.read.parquet(corpus_dir).select("path").first()["path"].lower()
    )
    job = {
        "groups": [
            {"id": 1, "hostnames": {
                path: hashlib.sha256(path.encode()).hexdigest(),
                "no/such/key.zz": hashlib.sha256(b"no/such/key.zz").hexdigest(),
            }},
            {"id": 2, "hostnames": {
                "also/missing.xx": hashlib.sha256(b"also/missing.xx").hexdigest(),
            }},
        ]
    }
    jp = str(tmp_path / "job.json")
    op = str(tmp_path / "result.json")
    with open(jp, "w") as f:
        json.dump(job, f)
    assert main(["search", "--state", ckpt_dir, "--job", jp, "--out", op]) == 0
    res = json.load(open(op))
    assert res["general_information"][0]["number_of_filters"] == 1
    assert any(r["key"] == path and r["hits"] >= 1 for r in res["hostnames"])
    # u == F == 1: every key row touched all filters, so no estimate
    assert all(r["est_key_clients"] is None for r in res["hostnames"])
    # zero-hit group 2 omitted; group 1 present with AND zeroed by miss
    gids = {g["group_id"] for g in res["groups"]}
    assert gids == {1}
    assert res["groups"][0]["hits_by_all_hostnames"] == 0


def test_export_hs_then_combine(spark, ckpt_dir, tmp_path):
    hs_dir = str(tmp_path / "hs")
    assert main(["export-hs", "--state", ckpt_dir, "--output", hs_dir]) == 0
    hs_files = sorted(
        os.path.join(hs_dir, f) for f in os.listdir(hs_dir)
        if f.endswith(".hs")
    )
    assert len(hs_files) == 2
    combined = str(tmp_path / "combined.hs")
    assert main(["combine", "--output", combined] + hs_files) == 0

    from honas_spark.sources.hsfile import import_hs_state

    spec, st, h = import_hs_state(combined)
    parts = [import_hs_state(p)[1] for p in hs_files]
    expected = parts[0].merge(parts[1])
    import numpy as np

    assert np.array_equal(st.filters, expected.filters)
    assert st.n_rows == expected.n_rows


def test_info_and_search_on_fresh_empty_hs(spark, tmp_path):
    """A fresh/empty .hs state (first_request=0 -> no first_ts) must load
    with an explicit schema instead of crashing createDataFrame."""
    from honas_spark.spec import SketchSpec
    from honas_spark.state import SketchState
    from honas_spark.sources.hsfile import export_hs_state

    spec = SketchSpec(m_bits=1 << 14, k=5, cms_width=256, kll_k=64)
    empty = SketchState(spec)
    hs = str(tmp_path / "fresh.hs")
    export_hs_state(empty, hs, 1704067200, 1704070800)

    csv = str(tmp_path / "plot.csv")
    assert main(["info", "--state", hs, "--plotmode", csv]) == 0
    assert os.path.isfile(csv)

    import hashlib

    job = {"groups": [{"id": 1, "hostnames": {
        "anything": hashlib.sha256(b"anything").hexdigest()}}]}
    jp = str(tmp_path / "job.json")
    op = str(tmp_path / "out.json")
    with open(jp, "w") as f:
        json.dump(job, f)
    assert main(["search", "--state", hs, "--job", jp, "--out", op]) == 0
    res = json.load(open(op))
    # .hs searches render the reference's result document: the zero-hit
    # group is omitted, general information is always present
    assert res["groups"] == []
    assert res["number_of_requests"] == 0
    assert res["state_file_version"] == "1.0"
    assert res["period_begin"] == 1704067200
    assert len(res["filters"]) == spec.num_filters


def test_search_with_keys_file_and_groundtruth(spark, corpus_dir, ckpt_dir, tmp_path):
    """Blacklist-file query + ground-truth comparison (the reference's
    query_*/groundtruth_compare script family)."""
    from honas_spark.search import compare_groundtruth

    member = (
        spark.read.parquet(corpus_dir).select("path").first()["path"].lower()
    )
    kf = str(tmp_path / "blacklist.txt")
    with open(kf, "w") as f:
        f.write(f"# comment line\n{member}\nNO/SUCH/KEY.zz\n\n")
    op = str(tmp_path / "res.json")
    assert main(["search", "--state", ckpt_dir, "--keys", kf, "--out", op]) == 0
    res = json.load(open(op))
    keys = {r["key"] for r in res["hostnames"]}
    assert member in keys and "no/such/key.zz" not in keys

    cmp1 = compare_groundtruth(res, [member])
    assert cmp1["true_positives"] == 1
    assert cmp1["false_negatives"] == 0
    assert cmp1["precision"] == 1.0 and cmp1["recall"] == 1.0
    cmp2 = compare_groundtruth(res, [member, "we/never/stored.this"])
    assert cmp2["false_negatives"] == 1 and cmp2["recall"] == 0.5
    assert cmp2["missed_keys"] == ["we/never/stored.this"]


def test_rotate_cli_rolls_hourly_to_daily(spark, ckpt_dir, tmp_path):
    """rotate = honas_state_rotate/daily_state_combine: hour windows fold
    into day windows, bit-exactly equal to merging the hourly states."""
    import numpy as np

    from honas_spark.sources import checkpoint as CP
    from honas_spark.state import SketchState

    out = str(tmp_path / "daily")
    assert main(["rotate", "--state", ckpt_dir, "--output", out,
                 "--period", "1 day"]) == 0
    spec = CP.read_spec(out)
    assert spec.window == "1 day"
    daily = CP.read_checkpoint(spark, out).collect()
    assert len(daily) == 1
    hourly = CP.read_checkpoint(spark, ckpt_dir).collect()
    h_spec = CP.read_spec(ckpt_dir)
    states = [SketchState.from_fields(h_spec, r.asDict()) for r in hourly]
    expected = states[0]
    for s in states[1:]:
        expected = expected.merge(s)
    got = SketchState.from_fields(h_spec, daily[0].asDict())
    assert np.array_equal(got.filters, expected.filters)
    assert got.n_rows == expected.n_rows


def test_group_column_outside_known_names_survives_rotate_and_search(
    spark, corpus_dir, tmp_path
):
    """A store's group columns come from its schema: a `country` entity
    column keeps one row per (day, country) through rotate, and search
    rows and general-information blocks carry it."""
    import hashlib

    from pyspark.sql import functions as F

    from honas_spark.sources import checkpoint as CP

    src = str(tmp_path / "corpus_country")
    spark.read.parquet(corpus_dir).withColumn(
        "country",
        F.element_at(F.array(*map(F.lit, ["nl", "de", "be"])),
                     (F.col("row_id") % 3 + 1).cast("int")),
    ).write.parquet(src)
    hourly, daily = str(tmp_path / "hourly"), str(tmp_path / "daily")
    assert main([
        "gather", "--input", src, "--output", hourly,
        "--m-bits", str(1 << 16), "--k", "5", "--window", "1 hour",
        "--client-col", "repo", "--entity-col", "country",
    ]) == 0
    assert CP.read_checkpoint(spark, hourly).count() == 6
    assert main(["rotate", "--state", hourly, "--output", daily,
                 "--period", "1 day"]) == 0
    rows = CP.read_checkpoint(spark, daily).select(
        "window_start", "country").collect()
    assert sorted(r["country"] for r in rows) == ["be", "de", "nl"]
    assert len({r["window_start"] for r in rows}) == 1

    path = spark.read.parquet(src).select("path").first()["path"].lower()
    jp, op = str(tmp_path / "job.json"), str(tmp_path / "res.json")
    with open(jp, "w") as f:
        json.dump({"groups": [{"id": 1, "hostnames": {
            path: hashlib.sha256(path.encode()).hexdigest()}}]}, f)
    assert main(["search", "--state", daily, "--job", jp, "--out", op]) == 0
    res = json.load(open(op))
    assert res["hostnames"] and all("country" in r for r in res["hostnames"])
    info = res["general_information"]
    assert sorted(r["country"] for r in info) == ["be", "de", "nl"]
    assert all(len(r["filters"]) == r["number_of_filters"] for r in info)


def test_gather_dry_run_prints_reference_advice_block(
    corpus_dir, tmp_path, capsys
):
    """The reference's `-d` mode (honas_gather.c:1150-1292): no state is
    built, hourly/daily distinct counters are printed, and the advice
    block matches the documented format (README.md:639-656)."""
    out = str(tmp_path / "dry")
    rc = main([
        "gather", "--input", corpus_dir, "--output", out, "--dry-run",
        "--m-bits", str(1 << 16), "--k", "5", "--window", "1 hour",
    ])
    assert rc == 0
    text = capsys.readouterr().out
    assert "Distinct count this hour:" in text
    assert "Distinct count this day:" in text
    assert (
        "------------------------------------ Advice"
        " ------------------------------------" in text
    )
    assert "-------------------------------- Hourly Filters" in text
    assert "-------------------------------- Daily Filters" in text
    # 3 target FPRs x 2 granularities, each with an m and a k line
    assert text.count("For a false positive rate of") == 6
    assert text.count("The number of hash functions (k) should be") == 6
    # no state built
    assert not [d for d in os.listdir(out) if d.startswith("window=")]
    assert os.path.isfile(os.path.join(out, "_dryrun.txt"))


def test_render_advice_block_matches_readme_example():
    """Byte-for-byte parity with the README.md:639-656 example advice
    (incl. the reference's integer-ratio optimal_k quirk: k=16 at 1e-5
    where true-ratio math would give 17)."""
    from honas_spark.info import render_advice_block

    out = render_advice_block(2578756, 19300734, "10-08-2018 13:32")
    for needle in (
        "BF size (m) should be 40810000, based on 2578756",
        "BF size (m) should be 54450000, based on 2578756",
        "BF size (m) should be 67980000, based on 2578756",
        "BF size (m) should be 305250000, based on 19300734",
        "BF size (m) should be 407000000, based on 19300734",
        "BF size (m) should be 508750000, based on 19300734",
    ):
        assert needle in out
    ks = [
        line.rsplit(" ", 1)[1]
        for line in out.splitlines()
        if "hash functions" in line
    ]
    assert ks == ["10", "14", "16", "10", "14", "16"]


def test_query_all_scenarios_incremental(spark, tmp_path, capsys):
    """scripts/query_all_scenarios.py parity: every archived state that
    has no result yet is queried with the blacklist job (incl. entity@
    and UNKNOWN@ variants), results land as <state>.hs.json, and a
    second run is a no-op (idempotent cron tick)."""
    import hashlib

    import numpy as np
    import pandas as pd

    from honas_spark.spec import SketchSpec
    from honas_spark.state import SketchState
    from honas_spark.sources.hsfile import export_hs_state

    spec = SketchSpec(m_bits=1 << 14, k=5, num_filters=2,
                      filters_per_user=1, cms_width=256, kll_k=64)
    archive = tmp_path / "archive" / "2024"
    archive.mkdir(parents=True)
    members = {
        "2024-01-01.hs": ["bad.example.com", "corp@bad.example.com"],
        "2024-01-02.hs": ["other.example.net"],
    }
    for name, keys in members.items():
        st = SketchState(spec)
        st.update(pd.Series(
            [hashlib.sha256(k.encode()).digest() for k in keys]
        ), client_hashes=np.zeros(len(keys), dtype=np.uint64))
        export_hs_state(st, str(archive / name), 1704067200, 1704070800)

    bl = tmp_path / "blacklist.csv"
    bl.write_text("bad.example.com\nnot-listed.org\n")
    ents = tmp_path / "entities.csv"
    ents.write_text("corp\nuni\n")
    outdir = tmp_path / "results"
    conf = tmp_path / "jobs.conf"
    conf.write_text(json.dumps({
        "entities_file": str(ents),
        "searchjobs": [{
            "name": "Test", "blacklist": str(bl),
            "result_directory": str(outdir),
        }],
    }))

    assert main(["query-all", "--conf", str(conf),
                 "--archive", str(tmp_path / "archive")]) == 0
    out1 = capsys.readouterr().out
    assert "ran 2 searches" in out1
    res1 = json.load(open(outdir / "2024-01-01.hs.json"))
    hostnames = res1["groups"][0]["hostnames"]
    # plain key AND its corp@ entity variant hit; UNKNOWN@ did not
    assert hostnames["bad.example.com"] >= 1
    assert hostnames["corp@bad.example.com"] >= 1
    assert "UNKNOWN@bad.example.com" not in hostnames
    assert "not-listed.org" not in hostnames
    res2 = json.load(open(outdir / "2024-01-02.hs.json"))
    assert res2["groups"] == []  # nothing from the blacklist in state 2

    # second tick: incremental, nothing re-queried
    assert main(["query-all", "--conf", str(conf),
                 "--archive", str(tmp_path / "archive")]) == 0
    assert "ran 0 searches" in capsys.readouterr().out

    # the Quirk-Q2 byte-parity knob threads through query-all too: a
    # fresh result dir queried with --flatten-on hostnames still
    # produces the same hits here (both estimates sit on the same side
    # of the default threshold), proving the path accepts the knob
    outdir2 = tmp_path / "results2"
    conf2 = tmp_path / "jobs2.conf"
    conf2.write_text(json.dumps({
        "entities_file": str(ents),
        "searchjobs": [{
            "name": "Test2", "blacklist": str(bl),
            "result_directory": str(outdir2),
        }],
    }))
    assert main(["query-all", "--conf", str(conf2),
                 "--archive", str(tmp_path / "archive"),
                 "--flatten-on", "hostnames"]) == 0
    capsys.readouterr()
    res1b = json.load(open(outdir2 / "2024-01-01.hs.json"))
    assert res1b["groups"][0]["hostnames"] == hostnames


def test_sector_rollup_matches_reference_script(spark, tmp_path):
    """Run the ACTUAL reference scripts/entities_to_sector.py on fixture
    CSVs and assert sector_rollup produces identical per-sector sums
    (including skipping entities absent from the mapping)."""
    import csv
    import subprocess
    import sys

    from honas_spark.search import (
        read_sector_mapping_csv,
        sector_csv,
        sector_rollup,
    )

    results = [(5, "Uni A"), (3, "Uni B"), (7, "Hogeschool C"),
               (2, "Unmapped D")]
    mapping = [("Uni A", "WO"), ("Uni B", "WO"), ("Hogeschool C", "HBO"),
               ("Extra E", "MBO")]
    rf, mf, of = (tmp_path / n for n in
                  ("results.csv", "mapping.csv", "out.csv"))
    with open(rf, "w", newline="") as f:
        w = csv.writer(f)
        for c, e in results:
            w.writerow([c, e])
    with open(mf, "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(["Volledige naam klant", "DoelgroepCode"])
        for e, s in mapping:
            w.writerow([e, s])
    subprocess.run(
        [sys.executable, "/root/reference/scripts/entities_to_sector.py",
         "-r", str(rf), "-m", str(mf), "-w", str(of)],
        check=True, capture_output=True,
    )
    with open(of) as f:
        expected = {
            row["sector"]: int(row["count"]) for row in csv.DictReader(f)
        }
    assert expected  # the reference run actually produced sectors

    counts = spark.createDataFrame(
        [(e, c) for c, e in results], "entity string, count long"
    )
    mdf = read_sector_mapping_csv(spark, str(mf))
    rolled = sector_rollup(counts, mdf)
    got = {r["sector"]: r["count"] for r in rolled.collect()}
    assert got == expected
    txt = sector_csv(rolled)
    assert txt.splitlines()[0] == "sector,count"
    assert set(txt.strip().splitlines()[1:]) == {
        f"{s},{c}" for s, c in expected.items()
    }


def test_search_sectors_flag_end_to_end(spark, corpus_dir, tmp_path):
    """gather with an entity column -> search with entity@key probes ->
    --sectors rolls per-entity hits up to the mapping's sectors."""
    ck = str(tmp_path / "eck")
    assert main([
        "gather", "--input", corpus_dir, "--output", ck,
        "--m-bits", str(1 << 16), "--k", "5", "--window", "1 hour",
        "--client-col", "repo", "--entity-col", "lang",
    ]) == 0
    row = spark.read.parquet(corpus_dir).select("path", "lang").first()
    member, ent = row["path"].lower(), row["lang"]
    langs = sorted(
        r["lang"] for r in
        spark.read.parquet(corpus_dir).select("lang").distinct().collect()
    )
    kf = tmp_path / "keys.txt"
    kf.write_text(member + "\n")
    ef = tmp_path / "entities.csv"
    ef.write_text("".join(f"{l}\n" for l in langs))
    mf = tmp_path / "mapping.csv"
    mf.write_text(
        '"Volledige naam klant","DoelgroepCode"\n'
        + "".join(f'"{l}","SEC_{l}"\n' for l in langs)
    )
    so = tmp_path / "sectors.csv"
    assert main([
        "search", "--state", ck, "--keys", str(kf),
        "--entities", str(ef), "--out", str(tmp_path / "res.json"),
        "--sectors", str(mf), "--sectors-out", str(so),
    ]) == 0
    lines = so.read_text().strip().splitlines()
    assert lines[0] == "sector,count"
    sectors = dict(l.split(",") for l in lines[1:])
    # the member's true entity must be credited to its mapped sector
    assert f"SEC_{ent}" in sectors and int(sectors[f"SEC_{ent}"]) >= 1


def test_export_csv_and_diff_results(tmp_path, capsys):
    """export-csv (experiment_to_csv.py shape) + diff-results
    (crm_diff.py exit-code contract) over fixture result documents."""
    rd = tmp_path / "results"
    rd.mkdir()

    def doc(hits_by_key):
        return json.dumps({
            "hostnames": [
                {"key": k, "hits": h} for k, h in hits_by_key.items()
            ],
            "groups": [],
        })

    (rd / "2018-07-01.hs.json").write_text(
        doc({"evil.example": 2, "clean.example": 0}))
    (rd / "2018-07-02.hs.json").write_text(
        doc({"evil.example": 2, "clean.example": 1}))

    out = tmp_path / "exp.csv"
    assert main(["export-csv", "--results", str(rd),
                 "--out", str(out)]) == 0
    assert out.read_text() == (
        "day,inside,total\n2018-07-01,1,2\n2018-07-02,2,2\n"
    )

    # ground-truth mode: inside/total = the reference's "[x / y] from
    # the ground truth were also in the search results"
    tf = tmp_path / "truth.txt"
    tf.write_text("evil.example\nnever.seen\n")
    assert main(["export-csv", "--results", str(rd), "--truth", str(tf),
                 "--out", str(out)]) == 0
    assert out.read_text() == (
        "day,inside,total\n2018-07-01,1,2\n2018-07-02,1,2\n"
    )

    a, b = rd / "2018-07-01.hs.json", rd / "2018-07-02.hs.json"
    capsys.readouterr()  # drain the export-csv prints
    assert main(["diff-results", str(a), str(b)]) == 1
    d = json.loads(capsys.readouterr().out)
    assert d["changed"] == [
        {"key": "clean.example", "hits_a": 0, "hits_b": 1}
    ]
    assert not d["added"] and not d["removed"]
    assert main(["diff-results", str(a), str(a)]) == 0
    # directory mode: latest two by mtime
    os.utime(a, (1, 1))
    assert main(["diff-results", str(rd)]) == 1
    # a directory with <2 results is a setup error (exit 2), NOT a
    # "results changed" (exit 1) — cron wrappers gate on the latter
    lone = tmp_path / "lonely"
    lone.mkdir()
    (lone / "only.hs.json").write_text(a.read_text())
    assert main(["diff-results", str(lone)]) == 2


def test_gen_subnets_matches_reference_format(tmp_path, capsys):
    """gen-subnets reproduces subnet_definitions_generator.py's exact
    JSON shape (subnet_activity list, {network_address: prefixlen}
    prefix dicts, insertion order) + the entities_out list."""
    crm = tmp_path / "crm.csv"
    crm.write_text(
        '"Prefix","Volledige naam klant"\n'
        '"192.87.0.0/16","SURFnet"\n'
        '"145.0.0.0/8","SURFnet"\n'
        '"2001:67c:6ec::/48","netSURF"\n'
        '"192.42.113.5/32","netSURF"\n'
    )
    oj = tmp_path / "subnets.json"
    oe = tmp_path / "entities_out.csv"
    assert main(["gen-subnets", "--input", str(crm), "--out", str(oj),
                 "--entities-out", str(oe)]) == 0
    doc = json.loads(oj.read_text())
    assert doc == {"subnet_activity": [
        {"entity": "SURFnet",
         "prefixes": [{"192.87.0.0": 16}, {"145.0.0.0": 8}]},
        {"entity": "netSURF",
         "prefixes": [{"2001:67c:6ec::": 48}, {"192.42.113.5": 32}]},
    ]}
    assert oe.read_text() == "SURFnet\nnetSURF\n"


def test_fpr_report_over_exported_states(spark, ckpt_dir, tmp_path, capsys):
    """fpr-report: export the checkpoint to .hs files, rename to date
    stems like the reference archive, and check the CSV against the
    kernels' own fill/FPR math."""
    import numpy as np

    from honas_spark import kernels as K
    from honas_spark.sources.hsfile import (
        HEADER_READ_SIZE, read_hs_header,
    )

    hs_dir = tmp_path / "hs"
    assert main(["export-hs", "--state", ckpt_dir,
                 "--output", str(hs_dir)]) == 0
    files = sorted(hs_dir.glob("*.hs"))
    assert files
    arch = tmp_path / "arch"
    arch.mkdir()
    renamed = arch / "2018-07-01.hs"
    renamed.write_bytes(files[0].read_bytes())

    capsys.readouterr()  # drain the export-hs prints
    assert main(["fpr-report", "--states", str(arch)]) == 0
    out = capsys.readouterr().out.strip().splitlines()
    assert out[0] == "time,actfpr,fillrate"
    ts, fpr, fr = out[1].split(",")
    with open(renamed, "rb") as f:
        h = read_hs_header(f.read(HEADER_READ_SIZE))
    bits = int(h["filter_bits_set"][0])
    assert abs(float(fpr) - K.actual_fpr(h["m_bits"], h["k"], bits)) < 1e-10
    assert abs(float(fr) - K.fill_rate(h["m_bits"], bits)) < 1e-10
    import datetime
    # the date stem is interpreted as UTC by default so the CSV is
    # machine-independent (--local-time restores the reference script's
    # naive local-TZ conversion)
    assert int(ts) == int(
        datetime.datetime(
            2018, 7, 1, tzinfo=datetime.timezone.utc
        ).timestamp()
    )


def test_occurrences_counts_across_results(tmp_path, capsys):
    rd = tmp_path / "res"
    rd.mkdir()

    def ref_doc(hostmap):
        return json.dumps({
            "groups": [{"id": 1, "hostnames": hostmap,
                        "hits_by_all_hostnames": 0}],
        })

    (rd / "2018-07-01.hs.json").write_text(ref_doc(
        {"evil.example": 2, "netSURF@evil.example": 2, "a.example": 1}))
    (rd / "2018-07-02.hs.json").write_text(ref_doc(
        {"evil.example": 2, "b.example": 1}))
    assert main(["occurrences", "--results", str(rd),
                 "--exclude", "netSURF,Nuffic", "--top", "5"]) == 0
    out = capsys.readouterr().out.strip().splitlines()
    assert out[0] == "2 evil.example"
    assert set(out[1:]) == {"1 a.example", "1 b.example"}
    assert not any("netSURF@" in l for l in out)


def test_curate_pipeline_end_to_end(spark, tmp_path):
    """curate: the whole training-data pipeline in one command over a
    corpus with known dups, PII, and eval overlap."""
    rows = [
        (0, "the quick brown fox jumps over the lazy dog today"),
        (1, "the quick brown fox jumps over the lazy dog today"),  # dup
        (2, "write to alice@example.com about el gato y el perro"),
        (3, "completely different content with nothing shared at all"),
    ]
    src = tmp_path / "docs"
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(
        str(src)
    )
    ev = tmp_path / "eval"
    spark.createDataFrame(
        [(0, "completely different content with nothing shared at all "
             "plus some eval framing text around it to reach thirteen "
             "grams easily in this sentence",)],
        "eid long, text string",
    ).write.parquet(str(ev))
    out = tmp_path / "curated"
    assert main([
        "curate", "--input", str(src), "--output", str(out),
        "--eval", str(ev), "--shingle-n", "2", "--num-hashes", "32",
        "--decontam-n", "8", "--span-k", "2",
    ]) == 0
    back = {r["doc_id"]: r for r in spark.read.parquet(str(out)).collect()}
    assert back[0]["component"] == 0 and back[0]["keep"] == 1
    assert back[1]["component"] == 0 and back[1]["keep"] == 0
    assert back[2]["n_email"] == 1
    assert back[2]["text_scrubbed"].startswith("write to [EMAIL] about")
    assert back[2]["lang_guess"] == "es"
    assert back[3]["contaminated"] == 1 and back[0]["contaminated"] == 0
    assert back[0]["n_tokens"] == 10
    # cross-doc repeated spans: docs 0/1 share all their 2-token spans
    assert back[0]["n_dup_spans"] == back[0]["n_spans"] > 0
    assert back[3]["n_dup_spans"] == 0

    summary = json.load(open(out / "_curate_summary.json"))
    assert summary["n_docs"] == 4 and summary["n_kept"] == 3
    assert summary["n_pii_matches"] == 1
    assert summary["n_contaminated"] == 1
    assert summary["langs"]["es"] == 1

    # --pack-budget: kept+clean docs get contiguous token offsets and
    # shard ids; dropped near-dups and contaminated docs get NULLs
    out2 = tmp_path / "curated_packed"
    assert main([
        "curate", "--input", str(src), "--output", str(out2),
        "--eval", str(ev), "--shingle-n", "2", "--num-hashes", "32",
        "--decontam-n", "8", "--span-k", "2", "--pack-budget", "12",
    ]) == 0
    back2 = {r["doc_id"]: r
             for r in spark.read.parquet(str(out2)).collect()}
    assert back2[1]["pack_id"] is None   # dropped near-dup: no budget
    assert back2[3]["pack_id"] is None   # contaminated: no budget
    packed = sorted(
        (r["offset"], r["doc_id"], r["n_tokens"], r["pack_id"])
        for r in back2.values() if r["pack_id"] is not None
    )
    # docs 0 (10 toks) and 2 (9 toks) in id order at budget 12:
    # exclusive offsets 0 and 10, both starting inside pack 0
    # (a doc is assigned to the pack its first token lands in)
    assert packed == [(0, 0, 10, 0), (10, 2, 9, 0)]


def test_sector_mapping_duplicate_entity_last_wins(spark, tmp_path):
    """The reference's dict assignment makes the LAST CSV row win for a
    duplicated entity — the driver-side ordered read preserves that."""
    from honas_spark.search import read_sector_mapping_csv, sector_rollup

    mf = tmp_path / "m.csv"
    mf.write_text(
        '"Volledige naam klant","DoelgroepCode"\n'
        '"Uni A","WO"\n'
        '"Uni A","HBO"\n'
    )
    mdf = read_sector_mapping_csv(spark, str(mf))
    assert mdf.collect() == [("Uni A", "HBO")] or \
        [tuple(r) for r in mdf.collect()] == [("Uni A", "HBO")]
    counts = spark.createDataFrame(
        [("Uni A", 5)], "entity string, count long"
    )
    rolled = {r["sector"]: r["count"]
              for r in sector_rollup(counts, mdf).collect()}
    assert rolled == {"HBO": 5}


def test_reference_renderer_flatten_on_knob(spark):
    """search_result_json_reference's flattened_results must follow the
    same flatten_on knob as run_search (cmd_search forwards it)."""
    import json as _json

    from honas_spark.search import search_result_json_reference
    from honas_spark.spec import SketchSpec

    spec = SketchSpec(m_bits=1 << 14, k=5, num_filters=2,
                      flatten_threshold=50, cms_width=256, kll_k=64)
    header = {
        "major": 1, "minor": 0, "period_begin": 0, "period_end": 3600,
        "first_request": 0, "last_request": 0, "number_of_requests": 0,
        "estimated_number_of_clients": 1,      # < 50 -> clients flatten
        "estimated_number_of_host_names": 200,  # > 50 -> hostnames don't
        "m_bits": spec.m_bits, "k": spec.k,
        "filters_per_user": 1, "num_filters": 2,
        "flatten_threshold": 50,
        "filter_bits_set": [0, 0],
    }
    empty_keys = spark.createDataFrame(
        [], "group_id long, key string, hits long"
    )
    empty_groups = spark.createDataFrame(
        [], "group_id long, hits_by_all_hostnames long"
    )
    d_clients = _json.loads(search_result_json_reference(
        empty_keys, empty_groups, spec, header))
    d_hosts = _json.loads(search_result_json_reference(
        empty_keys, empty_groups, spec, header, flatten_on="hostnames"))
    assert d_clients["flattened_results"] is True
    assert d_hosts["flattened_results"] is False
