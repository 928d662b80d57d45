"""Command-line interface — the honas binaries re-expressed.

    python -m honas_spark gather  --input DIR --output CKPT [--config F]
    python -m honas_spark search  --state CKPT|FILE.hs --job JOB.json
    python -m honas_spark info    --state CKPT|FILE.hs [--plotmode CSV]
    python -m honas_spark combine --output OUT.hs IN1.hs IN2.hs ...
    python -m honas_spark export-hs --state CKPT --output DIR

gather  = honas-gather (src/bin/honas_gather.c): ingest the corpus table,
          build windowed sketches, checkpoint resumably.
search  = honas-search (src/bin/honas_search.c): run a JSON search job
          against a sketch table or a .hs file, print the result JSON.
info    = honas-info (src/bin/honas_info.c): header/diagnostic dump,
          optional CSV (--plotmode).
combine = honas-combine (src/bin/honas_combine.c): left-fold merge of
          .hs state files (order-irrelevant by associativity).
"""

from __future__ import annotations

import argparse
import json
import sys


def _spark():
    from .session import get_spark

    spark = get_spark(app="honas_spark_cli")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _load_spec(args):
    from .spec import SketchSpec
    from .sources.config import load_gather_config

    if args.config:
        spec = load_gather_config(args.config)
        if args.window:
            from dataclasses import replace

            spec = replace(spec, window=args.window)
        return spec
    return SketchSpec(
        m_bits=args.m_bits, k=args.k, num_filters=args.filters,
        filters_per_user=args.filters_per_user,
        window=args.window or "1 hour",
    )


def cmd_gather(args) -> int:
    import os
    import time

    from pyspark.sql import functions as F

    from .functions.text import explode_keys
    from .instrumentation import dump_line, instrument_run, write_metrics
    from .operators import build_sketches, sha256_key, with_window
    from .sources import checkpoint as CP

    spec = _load_spec(args)
    spark = _spark()
    t0 = time.time()
    df = spark.read.parquet(args.input)
    n_sha_mismatch = 0
    if "content" in df.columns and "content_sha256" in df.columns:
        # per-row ingest guard (north rule): recompute + compare sha256,
        # drop corrupted rows before any key reaches a sketch
        from .sources.corpus import verify_content_sha

        df, sha_counts = verify_content_sha(df, on_mismatch="drop")
        row = sha_counts.collect()[0]
        n_sha_mismatch = int(row["n_mismatched"] or 0)
        if n_sha_mismatch:
            print(
                f"ingest guard: dropping {n_sha_mismatch} rows with"
                " corrupted content_sha256"
            )
    keyed = explode_keys(
        df, args.name_col, entity_col=args.entity_col or None, sep=args.sep
    )
    if args.dry_run:
        # the reference's `-d` mode (honas_gather.c:1150-1292): no state
        # is built — hourly/daily distinct counters run over the ingest
        # and the sizing-advice block is printed at "rotation" (here: the
        # end of the bounded input), in the reference's exact format
        import datetime as _dt

        from .info import dry_run_counters, render_advice_block

        hourly, daily = dry_run_counters(keyed, "key", args.ts_col)
        lines = []
        for w, dk, tq in hourly:
            lines.append(
                f"[{w}] Distinct count this hour: {dk},"
                f" total query count: {tq}"
            )
        for w, dk, tq in daily:
            lines.append(
                f"[{w}] Distinct count this day: {dk},"
                f" total query count: {tq}"
            )
        h_max = max((dk for _, dk, _ in hourly), default=0)
        d_max = max((dk for _, dk, _ in daily), default=0)
        now = _dt.datetime.now().strftime("%d-%m-%Y %H:%M")
        report = "\n".join(lines + [render_advice_block(h_max, d_max, now)])
        print(report)
        os.makedirs(args.output, exist_ok=True)
        with open(os.path.join(args.output, "_dryrun.txt"), "a") as f:
            f.write(report + "\n")
        return 0
    keyed = sha256_key(keyed, "key")
    keyed = with_window(keyed, args.ts_col, spec.window)
    group_cols = [c for c in [args.entity_col] if c]

    def build_fn(wdf):
        return build_sketches(
            wdf, spec, group_cols=["window_start"] + group_cols,
            client_col=args.client_col or None, ts_col=args.ts_col,
            mode=args.mode, salt=args.salt,
        )

    table = CP.build_resumable(
        spark, keyed, spec, args.output, "window_start", group_cols,
        build_fn, run_id=args.run_id,
    )
    n_rows = table.count()
    # S9 instrumentation sink (instrumentation.c:92-114): per-run counters
    # over the raw input — accepted = within the oversize bound, per-type
    # = the qtype analog column if present
    # accepted = inside the hygiene/oversize bounds (F3 analog)
    name_len = F.length(F.col(args.name_col))
    accept = (name_len >= 1) & (name_len <= 262_144)
    type_col = "ptr_mode" if "ptr_mode" in df.columns else None
    metrics = instrument_run(
        df, accept=accept, type_col=type_col,
        wall_sec=time.time() - t0,
    )
    metrics["run_id"] = args.run_id
    metrics["sketch_rows"] = n_rows
    metrics["n_sha_mismatched"] = n_sha_mismatch
    write_metrics(os.path.join(args.output, "_metrics.json"), metrics)
    print(dump_line(metrics))
    print(f"gathered {n_rows} sketch rows -> {args.output}")
    return 0


def _group_cols(df) -> list:
    """A sketch table's group columns: every column that is not a
    sketch value."""
    from .operators.sketch_agg import SKETCH_VALUE_COLS

    return [c for c in df.columns if c not in SKETCH_VALUE_COLS]


def _load_sketch_table(args, spark):
    """-> (spec, sketch table, group columns, .hs header or None)."""
    from .sources import checkpoint as CP

    if args.state.endswith(".hs"):
        import datetime as _dt

        from .sources.hsfile import import_hs_state
        from .operators.sketch_agg import SKETCH_VALUE_FIELDS, _states_to_pdf

        spec, st, h = import_hs_state(args.state)
        # Fresh/empty states have first_request=0 -> first_ts is None;
        # fall back to the header's period_begin and pass an explicit
        # schema so createDataFrame never has to infer from a None.
        ws = st.first_ts
        if ws is None:
            ws = _dt.datetime.utcfromtimestamp(
                int(h.get("period_begin", 0) or 0)
            )
        pdf = _states_to_pdf({(ws,): st}, ["window_start"])
        schema = f"window_start timestamp, {SKETCH_VALUE_FIELDS}"
        return spec, spark.createDataFrame(pdf, schema=schema), [
            "window_start"
        ], h
    spec = CP.read_spec(args.state)
    df = CP.read_checkpoint(spark, args.state)
    return spec, df, _group_cols(df), None


def _search_hs_file(
    spark, hs_path: str, job, flatten_on: str = "clients"
) -> str:
    """Run one search job against one .hs state and render the
    reference's result document.  flatten_on: same knob as `search`
    (clients = documented intent, hostnames = reference-binary byte
    parity, Quirk Q2)."""
    import argparse as _ap

    from .search import run_search, search_result_json_reference

    spec, table, group_cols, h = _load_sketch_table(
        _ap.Namespace(state=hs_path), spark
    )
    key_df, group_df = run_search(
        table, spec, job, group_cols, flatten_on=flatten_on
    )
    return search_result_json_reference(
        key_df, group_df, spec, h, flatten_on=flatten_on
    )


def cmd_query_all(args) -> int:
    """scripts/query_all_scenarios.py: the periodic (cron-driven)
    blacklist runner — for every configured search job, query each
    archived state file that has no result yet and write
    `<state>.hs.json` into the job's result directory.  Incremental:
    states already holding a result are skipped, so the cron tick is
    idempotent."""
    import glob
    import os

    from .search import job_from_key_file, read_entities_csv

    with open(args.conf) as f:
        conf = json.load(f)
    entities = None
    ef = conf.get("entities_file")
    if ef and os.path.isfile(ef):
        entities = read_entities_csv(ef)
    states = sorted(
        glob.glob(os.path.join(args.archive, "**", "*.hs"), recursive=True)
    )
    spark = _spark()
    n_run = 0
    for sjob in conf.get("searchjobs", []):
        outdir = sjob["result_directory"]
        os.makedirs(outdir, exist_ok=True)
        have = {
            os.path.basename(p)[: -len(".json")]
            for p in glob.glob(os.path.join(outdir, "*.hs.json"))
        }
        job = None
        for sf in states:
            base = os.path.basename(sf)
            if base in have:
                continue
            if job is None:  # parse the blacklist once per search job
                job = job_from_key_file(sjob["blacklist"], entities=entities)
            out = _search_hs_file(
                spark, sf, job,
                flatten_on=getattr(args, "flatten_on", "clients"),
            )
            with open(os.path.join(outdir, base + ".json"), "w") as f:
                f.write(out)
            n_run += 1
            print(f"queried {base} for {sjob.get('name', '?')}")
    print(f"ran {n_run} searches over {len(states)} states")
    return 0


def cmd_search(args) -> int:
    from .search import (
        job_from_key_file,
        run_search,
        search_result_json,
        search_result_json_reference,
    )

    spark = _spark()
    spec, table, group_cols, h = _load_sketch_table(args, spark)
    if args.keys:
        # blacklist-file mode (scripts/query_generic_blacklist.py shape)
        from .search import read_entities_csv

        ents = (
            read_entities_csv(args.entities) if args.entities else None
        )
        job = job_from_key_file(args.keys, entities=ents)
    else:
        with open(args.job) as f:
            job = json.load(f)
    key_df, group_df = run_search(
        table, spec, job, group_cols,
        flatten_on=getattr(args, "flatten_on", "clients"),
    )
    if h is not None:
        # single-state search: render the reference binary's exact
        # document (README.md:341-454) from the state header
        out = search_result_json_reference(
            key_df, group_df, spec, h,
            flatten_on=getattr(args, "flatten_on", "clients"),
        )
    else:
        out = search_result_json(
            key_df, group_df, group_cols, sketch_df=table, spec=spec
        )
    if args.out:
        with open(args.out, "w") as f:
            f.write(out)
    else:
        print(out)
    if getattr(args, "sectors", None):
        # entity->sector result rollup (scripts/entities_to_sector.py):
        # per-entity hits joined onto the sector mapping CSV, summed per
        # sector, written as the reference script's sector,count CSV
        from .search import (
            entity_hit_counts,
            read_sector_mapping_csv,
            sector_csv,
            sector_rollup,
        )

        mapping = read_sector_mapping_csv(spark, args.sectors)
        csv_text = sector_csv(
            sector_rollup(entity_hit_counts(key_df), mapping)
        )
        if args.sectors_out:
            with open(args.sectors_out, "w") as f:
                f.write(csv_text)
            print(f"wrote {args.sectors_out}")
        else:
            print(csv_text, end="")
    return 0


def cmd_info(args) -> int:
    from .info import (
        render_info_text,
        render_plot_lines,
        write_plotmode_csv,
    )
    from .operators.sketch_agg import finalize_stats

    if args.state.endswith(".hs"):
        # single-state info: the reference binary's exact text/plot
        # output (honas_info.c:59-105), straight off the header — no
        # Spark session needed
        from .sources.hsfile import import_hs_state

        spec, _st, h = import_hs_state(args.state)
        if args.plotmode:
            with open(args.plotmode, "w") as f:
                f.write(render_plot_lines(h) + "\n")
            print(f"wrote {args.plotmode}")
        else:
            print(render_info_text(spec, h))
        return 0
    spark = _spark()
    spec, table, group_cols, _h = _load_sketch_table(args, spark)
    if args.plotmode:
        write_plotmode_csv(table, spec, group_cols, args.plotmode)
        print(f"wrote {args.plotmode}")
    else:
        finalize_stats(table, spec, group_cols).show(100, truncate=False)
    return 0


def cmd_combine(args) -> int:
    from .sources.hsfile import export_hs_state, import_hs_state

    spec, merged, h0 = import_hs_state(args.inputs[0])
    for path in args.inputs[1:]:
        spec_i, st, _ = import_hs_state(path)
        merged = merged.merge(st)
    export_hs_state(
        merged, args.output, h0["period_begin"], h0["period_end"]
    )
    print(f"combined {len(args.inputs)} states -> {args.output}")
    return 0


def cmd_rotate(args) -> int:
    """State rotation/archival (scripts/honas_state_rotate.py +
    honas_daily_state_combine.py): roll the checkpoint's windows up to a
    coarser period into a new checkpoint — exact by merge associativity,
    no raw data touched."""
    from dataclasses import replace

    from .operators.sketch_agg import rollup_sketches
    from .sources import checkpoint as CP

    spark = _spark()
    spec = CP.read_spec(args.state)
    df = CP.read_checkpoint(spark, args.state)
    group_cols = [c for c in _group_cols(df) if c != "window_start"]
    rolled = rollup_sketches(
        df, spec, "window_start", args.period, group_cols
    )
    out_spec = replace(spec, window=args.period)
    CP.write_spec(args.output, out_spec)
    n = CP.write_windows(
        args.output, rolled, "window_start",
        {"spec": out_spec.to_dict(),
         "input_fingerprint": f"rotated-from={args.state}"},
        args.run_id,
    )
    print(f"rotated {n} {args.period} windows -> {args.output}")
    return 0


def cmd_export_hs(args) -> int:
    from .sources import checkpoint as CP
    from .sources.hsfile import export_hs_state
    from .state import SketchState
    import os

    spark = _spark()
    spec = CP.read_spec(args.state)
    df = CP.read_checkpoint(spark, args.state)
    os.makedirs(args.output, exist_ok=True)
    group_cols = _group_cols(df)
    n = 0
    for row in df.collect():
        st = SketchState.from_fields(spec, row.asDict())
        ws = row["window_start"] if "window_start" in df.columns else None
        name = "_".join(
            str(row[c]).replace(" ", "T").replace(":", "-").replace("/", "-")
            for c in group_cols
        ) or f"state{n}"
        export_hs_state(
            st, os.path.join(args.output, f"{name}.hs"),
            int(ws.timestamp()) if ws else 0, 0,
        )
        n += 1
    print(f"exported {n} .hs states -> {args.output}")
    return 0


def cmd_export_csv(args) -> int:
    """scripts/experiment_to_csv.py: flatten result documents to the
    documentation CSV.  Driver-side by design — one scalar row per
    state file; the distributed work happened in the searches that
    produced the documents."""
    from .search import results_csv

    truth = None
    if args.truth:
        with open(args.truth) as f:
            truth = [
                line.strip().lower() for line in f
                if line.strip() and not line.startswith("#")
            ]
    csv_text = results_csv(args.results, truth)
    if args.out:
        with open(args.out, "w") as f:
            f.write(csv_text)
        print(f"wrote {args.out}")
    else:
        print(csv_text, end="")
    return 0


def cmd_diff_results(args) -> int:
    """scripts/crm_diff.py shape: did the two latest results differ?
    Exit 0 when identical, 1 when different (so a cron wrapper can gate
    regeneration on the exit code, like the reference gates the subnet
    config rebuild)."""
    import glob
    import os

    from .search import diff_results

    paths = list(args.paths)
    if len(paths) == 1 and os.path.isdir(paths[0]):
        files = sorted(
            glob.glob(os.path.join(paths[0], "*.json")), key=os.path.getmtime
        )
        if len(files) < 2:
            # exit 2 (usage/setup error), NOT 1: a cron wrapper gating
            # regeneration on "exit 1 == results changed" must not
            # mistake a half-empty directory for a diff
            print("at least two result files are required")
            return 2
        paths = files[-2:]
    if len(paths) != 2:
        print("pass two result files or one directory")
        return 2
    d = diff_results(paths[0], paths[1])
    print(json.dumps(d, indent=2))
    return 0 if d["identical"] else 1


def cmd_gen_subnets(args) -> int:
    """scripts/subnet_definitions_generator.py: CRM CSV -> the
    subnet-activity JSON config + entities_out list (the file
    diff-results/crm_diff gates regeneration of)."""
    from .sources.config import generate_subnet_definitions

    doc, entities = generate_subnet_definitions(args.input)
    out = json.dumps(doc, ensure_ascii=False)
    if args.out:
        with open(args.out, "w", encoding="utf-8") as f:
            print(out, file=f)
        print(f"Wrote JSON output to {args.out}")
    else:
        print(out)
    if args.entities_out:
        with open(args.entities_out, "w", encoding="utf-8") as f:
            for e in entities:
                f.write(e + "\n")
    return 0


def cmd_fpr_report(args) -> int:
    """scripts/honas_actual_theoretical_fp.py: per archived daily
    state, the actual FPR + fill rate series as time,actfpr,fillrate
    CSV (first filter, like the reference's honas-info grep)."""
    from .info import fpr_report_csv

    csv_text = fpr_report_csv(
        args.states, args.pattern,
        utc=not getattr(args, "local_time", False),
    )
    if args.out:
        with open(args.out, "w") as f:
            f.write(csv_text)
        print(f"wrote {args.out}")
    else:
        print(csv_text, end="")
    return 0


def cmd_occurrences(args) -> int:
    """scripts/occurrence_finder_ndn.py: which keys recur across result
    documents (top-N by number of files), with entity-label
    exclusions."""
    from .search import result_occurrences

    excl = [e for e in (args.exclude or "").split(",") if e]
    rows = result_occurrences(args.results, exclusions=excl)
    for key, n in rows[: args.top]:
        print(f"{n} {key}")
    return 0


def cmd_curate(args) -> int:
    """The training-data pipeline end-to-end over a document corpus:
    quality features + language ID + PII scrubbing + repetition signals
    + near-dedup (and optional benchmark decontamination), written as
    one annotated parquet table plus a run summary — every stage is an
    existing gated operator, composed.

    Output columns added to the input: n_chars_q/n_tokens/
    n_unique_tokens/n_stopwords/n_punct, lang_guess, n_email/n_ipv4/
    n_phone + text_scrubbed, n_grams/n_uniq/max_gram/dup_occ,
    n_spans/n_dup_spans (cross-doc repeated-span signal),
    component/keep (near-dup cluster + representative flag),
    contaminated when --eval is given, and offset/pack_id (token-budget
    shard assignment over the KEPT docs) when --pack-budget is given.
    Filter keep=1 AND contaminated=0 downstream to materialize the
    curated corpus; group by pack_id for ~budget-token shards."""
    import os

    from pyspark.sql import functions as F

    from .curate import curate_annotations

    spark = _spark()
    docs = spark.read.parquet(args.input)
    id_col, text_col = args.id_col, args.text_col

    annotated = curate_annotations(
        docs, id_col, text_col,
        eval_df=spark.read.parquet(args.eval) if args.eval else None,
        num_hashes=args.num_hashes, shingle_n=args.shingle_n,
        span_k=args.span_k, decontam_n=args.decontam_n,
    )
    if args.pack_budget is not None:
        # shard assignment for the docs that survive curation: packs
        # of ~budget tokens in id order (kept docs only — dropped
        # near-dups and contaminated docs never consume budget).
        # Checkpoint first: pack_by_budget runs eager actions against
        # `keepers`, whose lineage is the WHOLE annotation transform —
        # without it the expensive pipeline would execute ~3x (the
        # packing actions plus the final write).
        from .operators.packing import pack_by_budget

        annotated = annotated.localCheckpoint()
        keepers = annotated.filter(F.col("keep") == 1)
        if args.eval:
            keepers = keepers.filter(F.col("contaminated") == 0)
        packs = pack_by_budget(
            keepers.select(id_col, "n_tokens"), id_col, "n_tokens",
            args.pack_budget,
        ).select(id_col, "offset", "pack_id")
        annotated = annotated.join(packs, id_col, "left")
    annotated.write.mode("overwrite").parquet(args.output)

    back = spark.read.parquet(args.output)
    aggs = [
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("keep").alias("n_kept"),
        F.sum(F.col("n_email") + F.col("n_ipv4") + F.col("n_phone"))
        .alias("n_pii_matches"),
    ]
    if args.eval:
        aggs.append(F.sum("contaminated").alias("n_contaminated"))
    row = back.agg(*aggs).collect()[0].asDict()
    summary = {k: int(v or 0) for k, v in row.items()}
    summary["langs"] = {
        r["lang_guess"]: r["n"]
        for r in back.groupBy("lang_guess").agg(
            F.count(F.lit(1)).alias("n")
        ).collect()
    }
    with open(os.path.join(args.output, "_curate_summary.json"), "w") as f:
        json.dump(summary, f, indent=2)
    print(json.dumps(summary))
    return 0


def main(argv=None) -> int:
    p = argparse.ArgumentParser(prog="honas_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    g = sub.add_parser("gather")
    g.add_argument("--input", required=True)
    g.add_argument("--output", required=True)
    g.add_argument("--config")
    g.add_argument("--window")
    g.add_argument("--m-bits", type=int, default=1 << 20)
    g.add_argument("--k", type=int, default=10)
    g.add_argument("--filters", type=int, default=1)
    g.add_argument("--filters-per-user", type=int, default=1)
    g.add_argument("--name-col", default="path")
    g.add_argument("--entity-col", default="")
    g.add_argument("--client-col", default="")
    g.add_argument("--ts-col", default="commit_ts")
    g.add_argument("--sep", default="/")
    g.add_argument("--mode", default="map_combine",
                   choices=["map_combine", "shuffle_keys"],
                   help="build plan (same Bloom/HLL/CMS).  shuffle_keys used "
                   "1.20 vs 1.66 CPU-s at 21 groups, 4.42 vs 8.20 at ~14k "
                   "(4 cores, ROADMAP D8)")
    g.add_argument("--salt", type=int, default=None,
                   help="shuffle_keys only: a group with n of N rows splits "
                   "over min(SALT, ceil(n*P/N)) partials (P = shuffle "
                   "partitions); no merge stage when none is above N/P")
    g.add_argument("--run-id", default="cli")
    g.add_argument("--dry-run", action="store_true",
                   help="the reference's -d mode: no state built; print "
                   "hourly/daily distinct counters + sizing advice")
    g.set_defaults(fn=cmd_gather)

    s = sub.add_parser("search")
    s.add_argument("--state", required=True)
    s.add_argument("--job")
    s.add_argument("--keys", help="plain-text key list (one per line) "
                   "instead of a JSON job")
    s.add_argument("--entities", help="entities CSV: adds entity@key + "
                   "UNKNOWN@key variants per key (query_generic_blacklist)")
    s.add_argument("--out")
    s.add_argument("--sectors", help="sector mapping CSV "
                   "(entities_to_sector.py shape): roll per-entity hits "
                   "up to per-sector counts")
    s.add_argument("--sectors-out", help="write the sector rollup CSV "
                   "here (default: print)")
    s.add_argument("--flatten-on", dest="flatten_on", default="clients",
                   choices=["clients", "hostnames"],
                   help="which estimate the privacy flatten compares: "
                   "clients (documented intent, default) or hostnames "
                   "(the reference binary's exact compare, Quirk Q2)")
    s.set_defaults(fn=cmd_search)

    qa = sub.add_parser("query-all")
    qa.add_argument("--conf", required=True,
                    help="periodic_search_jobs.conf (reference shape)")
    qa.add_argument("--archive", required=True,
                    help="state-file archive dir (recursive *.hs glob)")
    qa.add_argument("--flatten-on", dest="flatten_on", default="clients",
                    choices=["clients", "hostnames"],
                    help="same knob as `search` (hostnames = reference-"
                    "binary byte parity, Quirk Q2)")
    qa.set_defaults(fn=cmd_query_all)

    i = sub.add_parser("info")
    i.add_argument("--state", required=True)
    i.add_argument("--plotmode")
    i.set_defaults(fn=cmd_info)

    c = sub.add_parser("combine")
    c.add_argument("--output", required=True)
    c.add_argument("inputs", nargs="+")
    c.set_defaults(fn=cmd_combine)

    e = sub.add_parser("export-hs")
    e.add_argument("--state", required=True)
    e.add_argument("--output", required=True)
    e.set_defaults(fn=cmd_export_hs)

    r = sub.add_parser("rotate")
    r.add_argument("--state", required=True)
    r.add_argument("--output", required=True)
    r.add_argument("--period", default="1 day")
    r.add_argument("--run-id", default="rotate")
    r.set_defaults(fn=cmd_rotate)

    x = sub.add_parser("export-csv", help="flatten a result-JSON dir "
                       "to the reference's day,inside,total CSV "
                       "(experiment_to_csv.py)")
    x.add_argument("--results", required=True,
                   help="directory of <state>.hs.json result documents")
    x.add_argument("--truth", help="ground-truth key file: "
                   "inside/total become the groundtruth comparison")
    x.add_argument("--out", help="output CSV path (default: print)")
    x.set_defaults(fn=cmd_export_csv)

    d = sub.add_parser("diff-results", help="diff two search-result "
                       "JSONs (or the two latest in a dir, crm_diff.py "
                       "shape); exit 1 when they differ")
    d.add_argument("paths", nargs="+",
                   help="two result files, or one directory")
    d.set_defaults(fn=cmd_diff_results)

    gs = sub.add_parser("gen-subnets", help="CRM CSV -> subnet-activity "
                        "JSON + entities list "
                        "(subnet_definitions_generator.py)")
    gs.add_argument("--input", required=True, help="CRM CSV with "
                    "Prefix / Volledige naam klant columns")
    gs.add_argument("--out", help="JSON output path (default: print)")
    gs.add_argument("--entities-out", help="write the entity list here "
                    "(the reference's entities_out.csv)")
    gs.set_defaults(fn=cmd_gen_subnets)

    fp = sub.add_parser("fpr-report", help="actual FPR + fill rate per "
                        "archived state as CSV "
                        "(honas_actual_theoretical_fp.py)")
    fp.add_argument("--states", required=True,
                    help="directory of .hs state files with date stems")
    fp.add_argument("--pattern", default="*.hs")
    fp.add_argument("--out", help="CSV output path (default: print)")
    fp.add_argument("--local-time", dest="local_time",
                    action="store_true",
                    help="interpret filename date stems in the local "
                    "timezone (the reference script's quirk) instead "
                    "of UTC — only for diffing against an archive "
                    "built by the reference on a known-TZ host")
    fp.set_defaults(fn=cmd_fpr_report)

    oc = sub.add_parser("occurrences", help="keys recurring across "
                        "result documents (occurrence_finder_ndn.py)")
    oc.add_argument("--results", required=True)
    oc.add_argument("--exclude", help="comma-separated entity labels "
                    "to skip in entity@key compounds")
    oc.add_argument("--top", type=int, default=10)
    oc.set_defaults(fn=cmd_occurrences)

    cu = sub.add_parser("curate", help="end-to-end training-data "
                        "pipeline: quality + langid + PII scrub + "
                        "repetition + near-dedup [+ decontamination] "
                        "-> annotated parquet + summary")
    cu.add_argument("--input", required=True)
    cu.add_argument("--output", required=True)
    cu.add_argument("--id-col", default="doc_id")
    cu.add_argument("--text-col", default="text")
    cu.add_argument("--eval", help="benchmark/eval parquet for "
                    "decontamination flags")
    cu.add_argument("--num-hashes", type=int, default=64)
    cu.add_argument("--shingle-n", type=int, default=3)
    cu.add_argument("--decontam-n", type=int, default=13)
    cu.add_argument("--span-k", type=int, default=8,
                    help="token span width for the cross-doc repeated-"
                    "span (C4) signal")
    cu.add_argument("--pack-budget", type=int, default=None,
                    help="assign kept docs to ~N-token shards "
                    "(offset/pack_id columns; pretraining sequence "
                    "packing)")
    cu.set_defaults(fn=cmd_curate)

    args = p.parse_args(argv)
    if args.cmd == "gather" and args.salt is not None and (
            args.salt < 1 or args.mode != "shuffle_keys"):
        g.error("--salt needs --mode shuffle_keys and a value >= 1")
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
