"""P9 IP parsing + CIDR longest-prefix join (reference src/inet.c,
src/subnet_activity.c:441-507)."""

import ipaddress

from pyspark.sql import functions as F

from honas_spark.functions.inet import (
    ip4_aton,
    ip4_mask,
    ip6_aton,
    parse_cidr,
)
from honas_spark.operators.prefix_join import cidr_longest_prefix_join


def test_ip4_roundtrip_and_validation(spark):
    rows = [
        ("0.0.0.0", 0),
        ("255.255.255.255", 4294967295),
        ("10.64.32.1", 10 * 16777216 + 64 * 65536 + 32 * 256 + 1),
        ("192.168.1.77", None),  # filled below
        ("256.1.1.1", "bad"),
        ("1.2.3", "bad"),
        ("a.b.c.d", "bad"),
        ("1.2.3.4.5", "bad"),
    ]
    df = spark.createDataFrame(
        [(s,) for s, _ in rows], "ip string"
    ).withColumn("n", ip4_aton(F.col("ip")))
    got = {r["ip"]: r["n"] for r in df.collect()}
    for s, expect in rows:
        if expect == "bad":
            assert got[s] is None, s
        else:
            assert got[s] == int(ipaddress.IPv4Address(s)), s


def test_ip4_mask_matches_ipaddress(spark):
    addr = int(ipaddress.IPv4Address("10.64.45.200"))
    df = spark.createDataFrame([(addr,)], "n long")
    for plen in (0, 1, 8, 10, 19, 24, 31, 32):
        got = df.select(ip4_mask(F.col("n"), plen).alias("m")).collect()[0][
            "m"
        ]
        expect = int(
            ipaddress.ip_network((addr, plen), strict=False).network_address
        )
        assert got == expect, plen


def test_ip6_roundtrip_and_mask(spark):
    addrs = [
        "2001:db8::1",
        "::1",
        "fe80::a:b:c:d",
        "ffff:ffff:ffff:ffff:ffff:ffff:ffff:ffff",
    ]
    df = spark.createDataFrame(
        [(a,) for a in addrs] + [("not-an-ip",)], "ip string"
    ).withColumn("limbs", ip6_aton(F.col("ip")))
    got = {r["ip"]: r["limbs"] for r in df.collect()}

    def signed64(v):
        return v - (1 << 64) if v >= 1 << 63 else v

    # (hi, lo) are the address's big-endian 64-bit halves as signed longs
    for a in addrs:
        n = int(ipaddress.IPv6Address(a))
        expect = (signed64(n >> 64), signed64(n & ((1 << 64) - 1)))
        assert (got[a]["hi"], got[a]["lo"]) == expect, a
    assert got["not-an-ip"]["hi"] is None


def test_parse_cidr():
    assert parse_cidr("10.0.0.0/8") == (4, 10 * 16777216, 8)
    v, n, p = parse_cidr("2001:db8::/32")
    assert (v, p) == (6, 32)


_DIM = [
    ("10.0.0.0/8", "corp"),
    ("10.64.0.0/10", "corp-west"),
    ("10.64.32.0/19", "corp-west-dc1"),
    ("192.168.0.0/16", "lan"),
    ("192.168.1.0/24", "lan-mgmt"),
]


def _expected_lpm(ip: str):
    best = (None, None)
    for cidr, ent in _DIM:
        net = ipaddress.ip_network(cidr)
        if ipaddress.IPv4Address(ip) in net:
            if best[1] is None or net.prefixlen > best[1]:
                best = (ent, net.prefixlen)
    return best


def test_cidr_lpm_fast_path_and_fallback_agree(spark):
    ips = [
        "10.1.2.3",        # corp /8
        "10.64.1.1",       # corp-west /10
        "10.64.45.9",      # corp-west-dc1 /19
        "10.127.255.255",  # corp-west /10
        "192.168.1.77",    # lan-mgmt /24
        "192.168.2.1",     # lan /16
        "8.8.8.8",         # no match
        "11.0.0.1",        # no match
    ]
    df = spark.createDataFrame(
        [(i, ip) for i, ip in enumerate(ips)], "row_id long, ip string"
    ).withColumn("n", ip4_aton(F.col("ip")))

    fast = cidr_longest_prefix_join(df, "n", _DIM)
    slow = cidr_longest_prefix_join(df, "n", _DIM, max_case_entries=0)
    f = {r["ip"]: (r["matched_entity"], r["matched_plen"])
         for r in fast.collect()}
    s = {r["ip"]: (r["matched_entity"], r["matched_plen"])
         for r in slow.collect()}
    for ip in ips:
        assert f[ip] == _expected_lpm(ip), ip
        assert s[ip] == _expected_lpm(ip), ip


def test_cidr_lpm_fast_path_is_pure_projection(spark):
    """The CASE fast path must add no exchange to the plan."""
    df = spark.createDataFrame(
        [(1, int(ipaddress.IPv4Address("10.1.2.3")))], "row_id long, n long"
    )
    plan = cidr_longest_prefix_join(df, "n", _DIM)._jdf.queryExecution(
    ).executedPlan().toString()
    assert "Exchange" not in plan


def test_cidr_lpm_random_ips_match_ipaddress_model(spark):
    """200 seeded-random IPs through both physical paths must match the
    python `ipaddress` reference model exactly."""
    import numpy as np

    rng = np.random.default_rng(99)
    raw = rng.integers(0, 2**32, size=200, dtype=np.uint64)
    ips = [str(ipaddress.IPv4Address(int(v))) for v in raw]
    df = spark.createDataFrame(
        [(i, ip) for i, ip in enumerate(ips)], "row_id long, ip string"
    ).withColumn("n", ip4_aton(F.col("ip")))
    for kwargs in ({}, {"max_case_entries": 0}):
        got = {
            r["ip"]: (r["matched_entity"], r["matched_plen"])
            for r in cidr_longest_prefix_join(df, "n", _DIM, **kwargs).collect()
        }
        for ip in ips:
            assert got[ip] == _expected_lpm(ip), (ip, kwargs)


# --------------------------------------------------------------------------
# IPv6 / dual-stack LPM (J1b v6) — reference fixture cases ported from
# etc/example_subnet_definitions.json (netSURF registers 2001:67c:6ec::/48
# and 2001:67c:6ec:201::/64), matched per src/subnet_activity.c:441-507.
# --------------------------------------------------------------------------

_DIM_DUAL = [
    ("192.87.0.0/16", "SURFnet"),
    ("145.0.0.0/8", "SURFnet"),
    ("192.42.0.0/16", "SURFnet"),
    ("192.42.113.0/24", "netSURF"),
    ("145.220.0.0/16", "netSURF"),
    ("2001:67c:6ec::/48", "netSURF"),
    ("2001:67c:6ec:201::/64", "netSURF64"),
]


def _dual_df(spark, addrs):
    from honas_spark.functions.inet import ip4_aton, ip6_aton

    df = spark.createDataFrame(
        [(i, a) for i, a in enumerate(addrs)], "row_id long, addr string"
    )
    is4 = F.col("addr").contains(".") & ~F.col("addr").contains(":")
    return (
        df.withColumn("a4", F.when(is4, ip4_aton(F.col("addr"))))
        .withColumn("a6", F.when(~is4, ip6_aton(F.col("addr"))))
    )


def test_cidr_lpm6_reference_fixture_cases(spark):
    """The reference's own v6 fixture: /64 beats /48, /48 beats nothing,
    off-prefix addresses match neither."""
    from honas_spark.operators.prefix_join import cidr_longest_prefix_join6

    cases = {
        "2001:67c:6ec:201::5": ("netSURF64", 64),
        "2001:67c:6ec:201:ffff::1": ("netSURF64", 64),
        "2001:67c:6ec:202::5": ("netSURF", 48),
        "2001:67c:6ec::1": ("netSURF", 48),
        "2001:67c:6ed::1": (None, None),
        "::1": (None, None),
    }
    df = _dual_df(spark, list(cases))
    v6 = [(c, e) for c, e in _DIM_DUAL if ":" in c]
    for kwargs in ({}, {"max_case_entries": 0}):
        out = cidr_longest_prefix_join6(df, "a6", v6, **kwargs)
        got = {r["addr"]: (r["matched_entity"], r["matched_plen"])
               for r in out.collect()}
        for a, exp in cases.items():
            assert got[a] == exp, (a, kwargs)


def test_cidr_lpm6_case_path_is_pure_projection(spark):
    """The v6 CASE fast path must add no exchange (zero shuffle)."""
    from honas_spark.operators.prefix_join import cidr_longest_prefix_join6

    df = spark.createDataFrame(
        [(1, (2, 3))], "row_id long, a6 struct<hi: long, lo: long>"
    )
    v6 = [(c, e) for c, e in _DIM_DUAL if ":" in c]
    plan = cidr_longest_prefix_join6(df, "a6", v6)._jdf.queryExecution(
    ).executedPlan().toString()
    assert "Exchange" not in plan


def test_ip6_aton_mixed_batch_keeps_limb_precision(spark):
    """A malformed value in the same Arrow batch must not demote the limb
    columns to float64 (2^53 rounding would corrupt exact /64 compares)."""
    big = "ffff:ffff:ffff:fffe::1"  # hi = -2 as signed int64
    from honas_spark.functions.inet import ip6_aton

    df = spark.createDataFrame(
        [(big,), ("not-an-ip",)], "ip string"
    ).withColumn("l", ip6_aton(F.col("ip")))
    got = {r["ip"]: r["l"] for r in df.collect()}
    assert got[big]["hi"] == -2 and got[big]["lo"] == 1
    assert got["not-an-ip"]["hi"] is None


def test_lpm_big_dim_takes_fallback_and_matches_fast_path(spark):
    """A 5,000-entry dim must take the broadcast+max_by fallback under
    the default CASE cap: the CASE chain is not merely slow there — a
    5,000-deep nested expression tree StackOverflows the driver during
    Column->Catalyst conversion.  The fallback's answers are checked
    against a Python-computed longest-prefix ground truth, and the two
    physical paths are checked equal on a dim that both can run."""
    from pyspark.sql import functions as F

    from honas_spark.operators.prefix_join import longest_prefix_join

    dim_rows = [(f"p{i:04d}", f"e{i}") for i in range(5000)]
    dim_rows += [("p0", "short0"), ("p001", "mid001")]
    dim = spark.createDataFrame(dim_rows, "prefix string, entity string")
    fact = spark.range(300).select(
        F.col("id").alias("row_id"),
        F.concat(
            F.lit("p"), F.lpad((F.col("id") % 600).cast("string"), 4, "0"),
            F.lit("xyz"),
        ).alias("key"),
    ).unionByName(
        spark.createDataFrame(
            [(9001, "p001zzz"), (9002, "q-no-match")],
            "row_id long, key string",
        )
    )
    slow = longest_prefix_join(fact, dim, "key")  # default cap: fallback
    assert "BroadcastHashJoin" in (
        slow._jdf.queryExecution().executedPlan().toString()
    )
    by_len = sorted(dim_rows, key=lambda x: -len(x[0]))

    def expect(key):
        return next(
            (e for pfx, e in by_len if key.startswith(pfx)), None
        )

    got = {r["row_id"]: r["matched_entity"] for r in slow.collect()}
    want = {
        r["row_id"]: expect(r["key"]) for r in fact.collect()
    }
    assert got == want
    assert got[12] == "e12" and got[9001] == "mid001"
    assert got[9002] is None

    # both physical paths agree where both are runnable (400-entry dim)
    small = spark.createDataFrame(
        dim_rows[:400] + [("p0", "short0")], "prefix string, entity string"
    )
    fast = longest_prefix_join(fact, small, "key")          # <= 500: CASE
    forced = longest_prefix_join(
        fact, small, "key", max_case_entries=0
    )
    assert sorted((r["row_id"], r["matched_entity"])
                  for r in fast.collect()) == \
           sorted((r["row_id"], r["matched_entity"])
                  for r in forced.collect())
