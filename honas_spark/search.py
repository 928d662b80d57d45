"""Search jobs & results — the honas-search query interface.

Job format (reference README.md:296-339):
    {"groups": [{"id": 1, "hostnames": {"<key>": "<sha256 hex>"}}]}

Result semantics (src/bin/honas_search.c:129-421):
  * per-key `hits` = number of filters probably containing the key
  * threshold (F4): keys with hits < filters_per_user are dropped from the
    per-key output (honas_search.c:199-217)
  * flatten (D1): when the sketch's estimated distinct-client count is
    below `flatten_threshold`, hit counts are clamped to 0/1
    (honas_search.c:373-381; Quirk Q2 — we follow the documented *client*
    semantics, the reference code compares the hostname estimate)
  * group AND (J3): `hits_by_all_hostnames` = popcount of the bitwise AND
    of the per-key filter-hit bitmasks across ALL keys of the group — any
    missing key zeroes it (honas_search.c:303-314)

Like the reference, the probe loop folds all three: one `mapInPandas`
pass (`operators.probe.search_probe`) applies the threshold and the
flatten clamp and ANDs each group's masks with numpy, and sends back only
the key rows that pass plus one summary row per (sketch row, group) with
results.  `run_search` materialises that pass once and derives both
result frames from it."""

from __future__ import annotations

import hashlib
import json
import math
from typing import Sequence

from pyspark.sql import DataFrame, functions as F

from .spec import SketchSpec
from .operators.probe import search_probe
from .operators.common import duckdb_round


def parse_search_job(job: "dict | str") -> list[tuple]:
    """Job JSON -> [(group_id, key, sha_bytes)] (S4 source).

    Validation mirrors the reference parser (honas_search.c:129-371 +
    the AFL fuzz target fuzz/src/input_fuzz.c): `{}` is the minimal
    valid job (no groups); `id` is optional but must be numeric when
    present; every hostname value must be a 64-hex-char SHA-256.  Any
    malformed input raises ValueError with a message — never a hang,
    never a partial result (fuzz-tested in tests/test_fuzz_parsers.py)."""
    if isinstance(job, str):
        try:
            job = json.loads(job)
        except json.JSONDecodeError as e:
            raise ValueError(f"search job is not valid JSON: {e}") from e
    if not isinstance(job, dict):
        raise ValueError("search job must be a JSON object")
    groups = job.get("groups", [])
    if not isinstance(groups, list):
        raise ValueError("'groups' must be an array")
    out = []
    for grp in groups:
        if not isinstance(grp, dict):
            raise ValueError("each group must be a JSON object")
        gid = grp.get("id")
        if gid is not None:
            if isinstance(gid, bool) or not isinstance(gid, (int, float)):
                raise ValueError(f"group id must be numeric, got {gid!r}")
            if isinstance(gid, float) and not math.isfinite(gid):
                raise ValueError(f"group id must be finite, got {gid!r}")
            gid = int(gid)
            # the result's group_id column is a signed 64-bit long
            if not -(1 << 63) <= gid < 1 << 63:
                raise ValueError(f"group id {gid} is outside signed int64")
        hostnames = grp.get("hostnames", {})
        if not isinstance(hostnames, dict):
            raise ValueError("'hostnames' must be an object")
        for key, hexsha in hostnames.items():
            if not isinstance(hexsha, str) or len(hexsha) != 64:
                raise ValueError(
                    f"hostname value for {key!r} must be 64 hex chars"
                )
            try:
                sha = bytes.fromhex(hexsha)
            except ValueError:
                raise ValueError(
                    f"hostname value for {key!r} is not valid hex"
                ) from None
            out.append((gid, key, sha))
    return out


def make_search_job(groups: dict[int, Sequence[str]]) -> dict:
    """Build a job from plain key strings (hashing driver-side)."""
    return {
        "groups": [
            {
                "id": gid,
                "hostnames": {
                    k: hashlib.sha256(k.encode()).hexdigest() for k in keys
                },
            }
            for gid, keys in groups.items()
        ]
    }


def read_entities_csv(path: str) -> list[str]:
    """First column of the entities CSV (the reference's entities_out.csv
    consumed by query_generic_blacklist.py:59-67)."""
    import csv

    out = []
    with open(path) as f:
        for row in csv.reader(f):
            if row and row[0].strip():
                out.append(row[0].strip())
    return out


def job_from_key_file(
    path: str, group_id: int = 1, entities: "Sequence[str] | None" = None
) -> dict:
    """Build a search job from a plain-text key list (one per line) —
    the shape of the reference's blacklist query tools
    (scripts/query_generic_blacklist.py:33-47 and the booter/mailfilter/
    ndn variants): every non-empty line becomes a lowercased hostname in
    one group.

    With `entities`, every key additionally gets one `<entity>@<key>`
    variant per entity plus an `UNKNOWN@<key>` probe — exactly the
    compound queries the reference generates
    (query_generic_blacklist.py:73-89)."""
    keys = []
    with open(path) as f:
        for line in f:
            k = line.strip().lower()
            if k and not k.startswith("#"):
                keys.append(k)
    if entities:
        keys = [
            v
            for k in keys
            for v in (
                [k]
                + [f"{e}@{k}" for e in entities]
                + [f"UNKNOWN@{k}"]
            )
        ]
    return make_search_job({group_id: keys})


def compare_groundtruth(result: "dict | str", truth_keys) -> dict:
    """Search-result vs ground-truth comparison
    (scripts/ndn_groundtruth_compare.py / booter / mailfilter): which
    keys the filters reported vs which were actually present.

    truth_keys: iterable of keys known to be in the data.
    Returns counts + precision/recall + the miss lists.  False positives
    here are the Bloom FPs those scripts measure in the wild."""
    if isinstance(result, str):
        result = json.loads(result)
    found = {r["key"] for r in result.get("hostnames", []) if r["hits"]}
    truth = {str(k).lower() for k in truth_keys}
    tp = sorted(found & truth)
    fp = sorted(found - truth)
    fn = sorted(truth - found)
    n_tp, n_fp, n_fn = len(tp), len(fp), len(fn)
    return {
        "n_found": len(found),
        "n_truth": len(truth),
        "true_positives": n_tp,
        "false_positives": n_fp,
        "false_negatives": n_fn,
        "precision": n_tp / max(n_tp + n_fp, 1),
        "recall": n_tp / max(n_tp + n_fn, 1),
        "false_positive_keys": fp,
        "missed_keys": fn,
    }


def run_search(
    sketch_df: DataFrame,
    spec: SketchSpec,
    job: "dict | str",
    group_cols: Sequence[str],
    flatten_on: str = "clients",
) -> tuple[DataFrame, DataFrame]:
    """-> (per-key hits DF, per-group DF) with full honas semantics.

    flatten_on: which estimate the privacy flatten compares against
    `flatten_threshold`.  "clients" (default) follows the documented
    intent — the threshold is described as a client-count privacy bound
    (README.md:607-614); "hostnames" reproduces the reference BINARY's
    actual compare (honas_search.c:378 uses
    estimated_number_of_host_names — Quirk Q2) for byte-level parity on
    states whose two estimates straddle the threshold.

    Runs one Spark job when called: the folded probe (`search_probe`) is
    materialised once with `localCheckpoint`, and both frames are
    filters/projections of that checkpoint, so collecting them never
    re-runs the probe.

    Group results are per sketch row (the reference's per-state
    semantics): one group row per (sketch row, group_id) with results.
    That equals a group-by over (group_cols, group_id) whenever
    group_cols identify a sketch row, as they do for every table
    `build_sketches`, the rollups, the checkpoint store and the .hs
    import produce."""
    if flatten_on not in ("clients", "hostnames"):
        raise ValueError(f"flatten_on must be clients|hostnames: {flatten_on}")
    group_cols = list(group_cols)
    queries = parse_search_job(job)
    folded = search_probe(
        sketch_df, spec, queries, group_cols, flatten_on
    ).localCheckpoint()

    # D5: coarse per-key client estimate from the hit count (a key seen
    # by more distinct clients lands in more of the F filters;
    # README.md:273-279) — invert E[touched] = F(1-(1-u/F)^c)
    # hits == F means "all filters touched" — the inversion diverges, so
    # emit null ("at least everyone", keeps the JSON standard-parseable).
    # Key rows carry hits >= u >= 1; at u == F every one has hits == F.
    F_, u_ = spec.num_filters, spec.filters_per_user
    est_clients_for_hits = (
        F.lit(None).cast("double")
        if u_ == F_
        else F.when(
            F.col("hits") < F_,
            F.log(1.0 - F.col("hits") / F_) / math.log(1.0 - u_ / F_),
        )
    )

    key_df = folded.filter(~F.col("summary")).select(
        *group_cols,
        "group_id",
        "key",
        F.col("hits_out").alias("hits"),
        "filters_hit",
        "flattened",
        duckdb_round(est_clients_for_hits, 2).alias("est_key_clients"),
        "n_rows",
        "est_clients",
        "est_items",
        "total_bits_set",
    )
    group_df = folded.filter(F.col("summary")).select(
        *group_cols, "group_id", "flattened", "hits_by_all_hostnames"
    )
    return key_df, group_df


def _filter_block(spec: SketchSpec, bits_set) -> list[dict]:
    """The reference's per-filter stats (honas_search.c:113-124): bits
    set, estimated host names and the "%.10f" actual FPR of each filter."""
    from . import kernels as K

    return [
        {
            "number_of_bits_set": int(b),
            "estimated_number_of_host_names": int(
                K.bloom_approx_count(spec.m_bits, spec.k, int(b))
            ),
            "actual_false_positive_rate": "%.10f"
            % K.actual_fpr(spec.m_bits, spec.k, int(b)),
        }
        for b in bits_set
    ]


def general_information(
    sketch_df: DataFrame, spec: SketchSpec, group_cols: Sequence[str]
) -> list[dict]:
    """The reference search result's leading "general information" block
    (src/bin/honas_search.c:88-127): state metadata + per-filter stats.

    One dict per sketch row (state), each with that row's own F filters,
    from one stats pass.  The collect is bounded: one row per group
    (windows x entities), never per input key."""
    from .operators.sketch_agg import _row_stats

    group_cols = list(group_cols)
    out = []
    for r in _row_stats(sketch_df, spec, group_cols).collect():
        info = {c: r[c] for c in group_cols}
        info.update(
            first_request=r["first_ts"],
            last_request=r["last_ts"],
            estimated_number_of_clients=r["est_clients"],
            estimated_number_of_host_names=r["est_items"],
            number_of_requests=r["n_rows"],
            number_of_filters=spec.num_filters,
            number_of_filters_per_user=spec.filters_per_user,
            number_of_hashes=spec.k,
            number_of_bits_per_filter=spec.m_bits,
            flatten_threshold=spec.flatten_threshold,
            filters=_filter_block(spec, r["bits_set"]),
        )
        out.append(info)
    return out


def search_result_json_reference(
    key_df: DataFrame,
    group_df: DataFrame,
    spec: SketchSpec,
    header: dict,
    indent: "int | None" = None,
    flatten_on: str = "clients",
) -> str:
    """Render the reference's search-result document for a
    single-state (.hs) search (README.md:341-454, honas_search.c
    add_general_information:88-127 + group rendering:303-371): field
    names, field order, per-filter stats with the "%.10f" FPR string,
    `flattened_results`, and groups as {key: hits} maps.

    One DELIBERATE deviation (Quirk Q2, see SURVEY.md): the reference
    binary flattens when estimated_number_of_host_names <
    flatten_threshold (honas_search.c:378) even though the config docs
    describe the threshold as a CLIENT-count privacy bound; this engine
    follows the documented intent and compares est_clients.  For states
    whose client and hostname estimates straddle the threshold, the
    `flattened_results` flag (and clamped hits) differ from the
    reference binary's byte output.  Pass flatten_on="hostnames" (here
    AND to run_search, which produces key_df) for strict byte parity.

    key_df/group_df come from `run_search` over the imported state (the
    engine path — this is a sink, not a second implementation); `header`
    is the .hs header dict from `import_hs_state`."""
    from honas_spark import __version__

    doc: dict = {
        "node_version": __version__,
        "state_file_version": f"{header['major']}.{header['minor']}",
        "period_begin": int(header["period_begin"]),
        "first_request": int(header["first_request"]),
        "last_request": int(header["last_request"]),
        "period_end": int(header["period_end"]),
        "estimated_number_of_clients": int(
            header["estimated_number_of_clients"]
        ),
        "estimated_number_of_host_names": int(
            header["estimated_number_of_host_names"]
        ),
        "number_of_requests": int(header["number_of_requests"]),
        "number_of_filters": spec.num_filters,
        "number_of_filters_per_user": spec.filters_per_user,
        "number_of_hashes": spec.k,
        "number_of_bits_per_filter": spec.m_bits,
        "flatten_threshold": spec.flatten_threshold,
        "filters": _filter_block(spec, header["filter_bits_set"]),
        "flattened_results": bool(
            int(
                header["estimated_number_of_clients"]
                if flatten_on == "clients"
                else header["estimated_number_of_host_names"]
            )
            < spec.flatten_threshold
        ),
    }
    by_gid: dict = {}
    for r in key_df.collect():
        by_gid.setdefault(r["group_id"], {})[r["key"]] = int(r["hits"])
    groups = []
    for r in sorted(
        group_df.collect(),
        key=lambda x: (x["group_id"] is None, x["group_id"]),
    ):
        gid = r["group_id"]
        g: dict = {}
        if gid is not None:  # README: a group without id stays id-less
            g["id"] = int(gid)
        g["hostnames"] = by_gid.get(gid, {})
        g["hits_by_all_hostnames"] = int(r["hits_by_all_hostnames"])
        groups.append(g)
    doc["groups"] = groups
    return json.dumps(doc, indent=indent)


def search_result_json(
    key_df: DataFrame,
    group_df: DataFrame,
    group_cols: Sequence[str],
    sketch_df: "DataFrame | None" = None,
    spec: "SketchSpec | None" = None,
) -> str:
    """S5 sink: render the search result as the reference's JSON shape.
    When sketch_df+spec are given, the result leads with the per-state
    general-information block like the reference (honas_search.c:88-127)."""
    keys = [r.asDict() for r in key_df.collect()]
    groups = [r.asDict() for r in group_df.collect()]
    result: dict = {}
    if sketch_df is not None and spec is not None:
        result["general_information"] = general_information(
            sketch_df, spec, group_cols
        )
    result["hostnames"] = keys
    result["groups"] = groups
    for row in keys + groups + result.get("general_information", []):
        for c in list(row):
            v = row[c]
            if hasattr(v, "isoformat"):
                row[c] = v.isoformat()
    return json.dumps(result, default=str)


def read_sector_mapping_csv(
    spark,
    path: str,
    entity_field: str = "Volledige naam klant",
    sector_field: str = "DoelgroepCode",
) -> DataFrame:
    """Sector mapping dim (scripts/entities_to_sector.py:36-38): a
    quoted, headered CSV mapping entity -> sector.  Returns a 2-column
    (entity, sector) DataFrame; the field names default to the
    reference's Dutch column headers.

    Read driver-side on purpose: the mapping is a small dim (it is
    broadcast downstream) and the reference's dict assignment makes the
    LAST row win for a duplicated entity — file order is only
    observable from a sequential read, not from spark.read.csv.
    Non-local URIs (hdfs://, s3a://, ...) stream through the Hadoop
    FileSystem so cluster-resident mapping files keep working."""
    import csv
    import io

    if "://" in path and not path.startswith("file://"):
        jvm = spark._jvm
        conf = spark._jsc.hadoopConfiguration()
        p = jvm.org.apache.hadoop.fs.Path(path)
        fs = p.getFileSystem(conf)
        stream = fs.open(p)
        try:
            data = bytes(
                jvm.org.apache.commons.io.IOUtils.toByteArray(stream)
            )
        finally:
            stream.close()
        text = data.decode("utf-8")
    else:
        with open(path.removeprefix("file://"), encoding="utf-8",
                  newline="") as f:
            text = f.read()
    mapping: dict = {}
    for row in csv.DictReader(io.StringIO(text)):
        mapping[row[entity_field]] = row[sector_field]
    return spark.createDataFrame(
        list(mapping.items()), "entity string, sector string"
    )


def entity_hit_counts(key_df: DataFrame) -> DataFrame:
    """Per-entity hit totals from a search result: keys of the compound
    form `entity@name` (README.md:119-146) are credited to their entity;
    plain keys are ignored.  Output: (entity, count)."""
    return (
        key_df.filter(F.col("key").contains("@"))
        .select(
            F.substring_index(F.col("key"), "@", 1).alias("entity"),
            F.col("hits"),
        )
        .groupBy("entity")
        .agg(F.sum("hits").alias("count"))
        .filter(F.col("count") > 0)
    )


def sector_rollup(
    entity_counts: DataFrame,
    mapping: DataFrame,
    entity_col: str = "entity",
    count_col: str = "count",
) -> DataFrame:
    """Entity->sector result rollup (scripts/entities_to_sector.py:44-59):
    join the sector dim onto per-entity counts and sum per sector.
    Entities absent from the mapping are skipped, exactly like the
    reference's KeyError branch.  The mapping is a small dim -> broadcast
    join; the aggregation is map-side partial.  Output: (sector, count)."""
    m = mapping.select(
        F.col("entity").alias(entity_col), "sector"
    ).dropDuplicates([entity_col])
    return (
        entity_counts.join(F.broadcast(m), entity_col, "inner")
        .groupBy("sector")
        .agg(F.sum(count_col).alias("count"))
    )


def sector_csv(sector_df: DataFrame) -> str:
    """Render the rollup as the reference script's output CSV
    (entities_to_sector.py:53-56): header `sector,count`, one row per
    sector (sorted here for determinism; the reference emits dict
    order)."""
    lines = ["sector,count"]
    for r in sector_df.orderBy("sector").collect():
        lines.append(f"{r['sector']},{r['count']}")
    return "\n".join(lines) + "\n"


def results_to_csv_rows(
    result_dir: str, truth_keys=None
) -> list[tuple[str, int, int]]:
    """Flatten a directory of search-result JSONs (the `query-all`
    output, one `<state>.hs.json` per state) into the reference's
    experiment CSV rows (scripts/experiment_to_csv.py:21-45):
    (day, inside, total) per state, sorted by day.

    With `truth_keys`, inside/total are the ground-truth comparison the
    reference script parsed out of its statistics log ("[inside / total]
    from the ground truth were also in the search results"); without,
    inside = keys the filters reported, total = keys queried.

    Driver-side by design: one scalar row per state file — the
    distributed work already happened in the searches that produced
    these documents."""
    import glob
    import os

    rows = []
    for path in sorted(glob.glob(os.path.join(result_dir, "*.json"))):
        with open(path) as f:
            doc = json.load(f)
        day = os.path.basename(path)
        for suf in (".hs.json", ".json"):
            if day.endswith(suf):
                day = day[: -len(suf)]
                break
        hostnames = doc.get("hostnames", [])
        if truth_keys is not None:
            cmpres = compare_groundtruth(doc, truth_keys)
            rows.append(
                (day, cmpres["true_positives"], cmpres["n_truth"])
            )
        else:
            inside = sum(1 for r in hostnames if r.get("hits"))
            rows.append((day, inside, len(hostnames)))
    return rows


def results_csv(result_dir: str, truth_keys=None) -> str:
    """Render results_to_csv_rows as the reference script's CSV
    (header `day,inside,total`)."""
    lines = ["day,inside,total"]
    for day, inside, total in results_to_csv_rows(result_dir, truth_keys):
        lines.append(f"{day},{inside},{total}")
    return "\n".join(lines) + "\n"


def diff_results(path_a: str, path_b: str) -> dict:
    """Difference between two search-result JSONs: keys whose hit
    status changed, appeared, or disappeared.  The shape of the
    reference's daily change detector (scripts/crm_diff.py:39-50 —
    'did the latest two differ? then act'), applied to result
    documents: an empty diff means the downstream consumer can skip
    regeneration."""
    def load(p):
        with open(p) as f:
            doc = json.load(f)
        return {r["key"]: r.get("hits", 0) for r in doc.get("hostnames", [])}

    a, b = load(path_a), load(path_b)
    added = sorted(set(b) - set(a))
    removed = sorted(set(a) - set(b))
    changed = sorted(
        k for k in set(a) & set(b) if a[k] != b[k]
    )
    return {
        "added": added,
        "removed": removed,
        "changed": [
            {"key": k, "hits_a": a[k], "hits_b": b[k]} for k in changed
        ],
        "identical": not (added or removed or changed),
    }


def result_occurrences(
    result_dir: str,
    exclusions: Sequence[str] = (),
    pattern: str = "*.json",
) -> list[tuple[str, int]]:
    """Keys occurring across many result documents
    (scripts/occurrence_finder_ndn.py:26-56): for every key reported in
    a result's groups, count in how many files it appears; `entity@key`
    compounds whose entity is in `exclusions` are skipped, exactly like
    the reference's label exclusion list.  Sorted by count desc, then
    key.  Accepts both result shapes: the reference document's
    per-group {key: hits} maps and the sketch-table document's
    hostnames list (keys with hits > 0)."""
    import glob
    import os

    excl = set(exclusions)
    counts: dict = {}
    for path in sorted(glob.glob(os.path.join(result_dir, pattern))):
        with open(path) as f:
            doc = json.load(f)
        keys = set()
        for grp in doc.get("groups", []):
            hostnames = grp.get("hostnames")
            if isinstance(hostnames, dict):
                keys.update(hostnames)
        if not keys:
            keys = {
                r["key"] for r in doc.get("hostnames", [])
                if r.get("hits")
            }
        for k in keys:
            at = k.find("@")
            if at != -1 and k[:at] in excl:
                continue
            counts[k] = counts.get(k, 0) + 1
    return sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))
