"""Longest-prefix-match join (J1) — the subnet->entity lookup re-expressed.

The reference probes a hash table at every registered prefix length,
longest first (src/subnet_activity.c:441-507).  The Spark-native shape:
explode the *fact* key into its candidate prefixes at the dimension's
registered lengths, broadcast-equi-join against the tiny dimension, and
keep the longest match per row with `max_by`.  One broadcast join, no
shuffle of the fact table beyond the final group-by-row reduction — and
that reduction is avoided too by using a window-free `max_by` aggregation
keyed on a unique row id."""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, functions as F


def longest_prefix_join(
    fact: DataFrame,
    dim: DataFrame,
    key_col: str,
    prefix_col: str = "prefix",
    entity_col: str = "entity",
    row_id_col: str = "row_id",
    out_col: str = "matched_entity",
    max_case_entries: int = 500,
) -> DataFrame:
    """fact[key_col] matched against dim[(prefix, entity)]; longest prefix
    wins; unmatched rows keep null.  `dim` must be small (broadcast).

    Fast path: when the dim fits in `max_case_entries` it is folded into
    a single substring-equality CASE chain (longest prefix first) — a
    pure projection, ZERO shuffle of the fact table, fully codegen'd.
    The reference's per-length hash probes (subnet_activity.c:441-507)
    are exactly this shape.  Larger dims fall back to explode +
    broadcast join + max_by, which shuffles only (row_id, entity).

    The default caps the CASE chain at 500 entries: a deeper nested
    expression tree stresses Janino codegen (method-size limits force an
    interpreted fallback well before 5,000 levels), and the broadcast
    path is already cheap at that dim size."""
    n_dim = dim.count()
    if n_dim == 0:
        return fact.withColumn(out_col, F.lit(None).cast("string"))
    if n_dim <= max_case_entries:
        entries = sorted(
            [(r[prefix_col], r[entity_col]) for r in dim.collect()],
            key=lambda x: -len(x[0]),
        )
        # flat CaseWhen (one node, N branches, first match wins ->
        # longest-first order IS the longest-prefix rule).  Never build
        # this as nested when/otherwise: N nested nodes StackOverflow the
        # Column->Catalyst conversion around ~400 levels.
        expr = None
        for prefix, entity in entries:
            cond = F.substring(F.col(key_col), 1, len(prefix)) == prefix
            expr = (
                F.when(cond, F.lit(entity))
                if expr is None
                else expr.when(cond, F.lit(entity))
            )
        expr = expr.otherwise(F.lit(None).cast("string"))
        return fact.withColumn(out_col, expr)
    lengths = sorted(
        {r[0] for r in dim.select(F.length(prefix_col)).distinct().collect()}
    )
    cand = fact.select(
        row_id_col,
        F.explode(
            F.array(*[F.substring(F.col(key_col), 1, n) for n in lengths])
        ).alias("_cand"),
    )
    matched = (
        cand.join(
            F.broadcast(dim),
            cand["_cand"] == dim[prefix_col],
            "inner",
        )
        .groupBy(row_id_col)
        .agg(
            F.max_by(
                F.col(entity_col), F.length(F.col(prefix_col))
            ).alias(out_col)
        )
    )
    return fact.join(matched, row_id_col, "left")


def cidr_longest_prefix_join(
    fact: DataFrame,
    addr_col: str,
    cidrs: Sequence[tuple],
    out_col: str = "matched_entity",
    plen_col: str = "matched_plen",
    row_id_col: str = "row_id",
    max_case_entries: int = 500,
) -> DataFrame:
    """True CIDR longest-prefix match over an IPv4 BIGINT column (the
    reference's subnet->entity lookup, src/subnet_activity.c:441-507 —
    masked-address compare per registered length, longest first; NOT a
    string-prefix compare).

    cidrs: [('10.0.0.0/8', 'entity'), ...] — the subnet-definitions dim
    (S6), tiny by construction.

    Fast path (dim <= max_case_entries): one CASE chain over
    `addr & mask(L) == network`, longest length first — a pure projection,
    zero shuffle, constant-folded masks, fully codegen'd.  Fallback for
    big dims: explode the fact address into one masked candidate per
    registered length, broadcast-join on (masked, plen), keep the longest
    with max_by — shuffles only (row_id, entity, plen)."""
    from ..functions.inet import ip4_mask, parse_cidr

    parsed = []
    for cidr, entity in cidrs:
        ver, net, plen = parse_cidr(cidr)
        if ver != 4:
            raise ValueError(
                f"cidr_longest_prefix_join is IPv4-only: {cidr};"
                " use cidr_longest_prefix_join6 for IPv6 prefixes"
            )
        parsed.append((net, plen, entity))

    addr = F.col(addr_col)
    if not parsed:
        return fact.withColumn(
            out_col, F.lit(None).cast("string")
        ).withColumn(plen_col, F.lit(None).cast("int"))
    if len(parsed) <= max_case_entries:
        # flat CaseWhen, longest length first (first match wins); nested
        # when/otherwise StackOverflows conversion at depth ~400
        ent = ln = None
        for net, plen, entity in sorted(parsed, key=lambda x: -x[1]):
            cond = ip4_mask(addr, plen) == F.lit(net)
            ent = (F.when(cond, F.lit(entity)) if ent is None
                   else ent.when(cond, F.lit(entity)))
            ln = (F.when(cond, F.lit(plen)) if ln is None
                  else ln.when(cond, F.lit(plen)))
        ent = ent.otherwise(F.lit(None).cast("string"))
        ln = ln.otherwise(F.lit(None).cast("int"))
        return fact.withColumn(out_col, ent).withColumn(plen_col, ln)

    spark = fact.sparkSession
    dim = spark.createDataFrame(
        parsed, "net long, plen int, entity string"
    )
    lengths = sorted({p for _, p, _ in parsed})
    cand = fact.select(
        row_id_col,
        F.explode(
            F.array(
                *[
                    F.struct(
                        ip4_mask(addr, n).alias("m"),
                        F.lit(n).cast("int").alias("l"),
                    )
                    for n in lengths
                ]
            )
        ).alias("c"),
    )
    matched = (
        cand.join(
            F.broadcast(dim),
            (cand["c.m"] == dim["net"]) & (cand["c.l"] == dim["plen"]),
            "inner",
        )
        .groupBy(row_id_col)
        .agg(
            F.max_by(F.col("entity"), F.col("plen")).alias(out_col),
            F.max("plen").alias(plen_col),
        )
    )
    return fact.join(matched, row_id_col, "left")


# --------------------------------------------------------------------------
# IPv6 — the dual-stack half of the reference's subnet matching
# (src/subnet_activity.c:441-507 masks both families via the in_addr46
# union, include/inet.h:59-65; fixture etc/example_subnet_definitions.json
# registers v6 /48 and /64 prefixes).
# --------------------------------------------------------------------------

_M64 = 0xFFFFFFFFFFFFFFFF


def _to_signed64(v: int) -> int:
    v &= _M64
    return v - (1 << 64) if v >= (1 << 63) else v


def ip6_net_limbs(net_int: int) -> tuple[int, int]:
    """128-bit network int -> (hi, lo) signed int64 limbs (big-endian)."""
    return _to_signed64(net_int >> 64), _to_signed64(net_int)


def ip6_mask_limbs(plen: int) -> tuple[int, int]:
    """CIDR length -> (mask_hi, mask_lo) signed int64 limbs."""
    plen = max(0, min(plen, 128))
    full = ((1 << plen) - 1) << (128 - plen)
    return ip6_net_limbs(full)


def cidr_longest_prefix_join6(
    fact: DataFrame,
    addr6_col: str,
    cidrs: Sequence[tuple],
    out_col: str = "matched_entity",
    plen_col: str = "matched_plen",
    row_id_col: str = "row_id",
    max_case_entries: int = 500,
) -> DataFrame:
    """True CIDR longest-prefix match over an IPv6 struct<hi,lo> column
    (two signed int64 limbs, big-endian — `functions.inet.ip6_aton`).

    Same physical shapes as the IPv4 variant: a constant-folded CASE
    chain over `(hi & mask_hi, lo & mask_lo) == (net_hi, net_lo)` when
    the dim is small (pure projection, zero shuffle), else explode one
    masked candidate per registered length + broadcast join + max_by."""
    from ..functions.inet import parse_cidr

    parsed = []  # (net_hi, net_lo, mask_hi, mask_lo, plen, entity)
    for cidr, entity in cidrs:
        ver, net, plen = parse_cidr(cidr)
        if ver != 6:
            raise ValueError(f"cidr_longest_prefix_join6 is IPv6-only: {cidr}")
        nh, nl = ip6_net_limbs(net)
        mh, ml = ip6_mask_limbs(plen)
        parsed.append((nh, nl, mh, ml, plen, entity))

    hi = F.col(addr6_col)["hi"]
    lo = F.col(addr6_col)["lo"]
    if not parsed:
        return fact.withColumn(
            out_col, F.lit(None).cast("string")
        ).withColumn(plen_col, F.lit(None).cast("int"))
    if len(parsed) <= max_case_entries:
        # flat CaseWhen, longest length first (first match wins); nested
        # when/otherwise StackOverflows conversion at depth ~400
        ent = ln = None
        for nh, nl, mh, ml, plen, entity in sorted(
            parsed, key=lambda x: -x[4]
        ):
            cond = (hi.bitwiseAND(F.lit(mh)) == F.lit(nh)) & (
                lo.bitwiseAND(F.lit(ml)) == F.lit(nl)
            )
            ent = (F.when(cond, F.lit(entity)) if ent is None
                   else ent.when(cond, F.lit(entity)))
            ln = (F.when(cond, F.lit(plen)) if ln is None
                  else ln.when(cond, F.lit(plen)))
        ent = ent.otherwise(F.lit(None).cast("string"))
        ln = ln.otherwise(F.lit(None).cast("int"))
        return fact.withColumn(out_col, ent).withColumn(plen_col, ln)

    spark = fact.sparkSession
    dim = spark.createDataFrame(
        [(nh, nl, p, e) for nh, nl, _, _, p, e in parsed],
        "net_hi long, net_lo long, plen int, entity string",
    )
    lengths = sorted({p for *_, p, _ in parsed})
    cand = fact.select(
        row_id_col,
        F.explode(
            F.array(
                *[
                    F.struct(
                        hi.bitwiseAND(
                            F.lit(ip6_mask_limbs(n)[0])
                        ).alias("mh"),
                        lo.bitwiseAND(
                            F.lit(ip6_mask_limbs(n)[1])
                        ).alias("ml"),
                        F.lit(n).cast("int").alias("l"),
                    )
                    for n in lengths
                ]
            )
        ).alias("c"),
    )
    matched = (
        cand.join(
            F.broadcast(dim),
            (cand["c.mh"] == dim["net_hi"])
            & (cand["c.ml"] == dim["net_lo"])
            & (cand["c.l"] == dim["plen"]),
            "inner",
        )
        .groupBy(row_id_col)
        .agg(
            F.max_by(F.col("entity"), F.col("plen")).alias(out_col),
            F.max("plen").alias(plen_col),
        )
    )
    return fact.join(matched, row_id_col, "left")

