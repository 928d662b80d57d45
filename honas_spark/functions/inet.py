"""IP parsing + CIDR arithmetic (P9, reference src/inet.c).

The reference stores client addresses as sockaddr unions and renders them
with inet_ntop/inet_pton (inet.c str_addr/str_in_addr); subnet matching
masks the address at every registered prefix length
(src/subnet_activity.c:434-507).

Spark-native representation:
  * IPv4 — one signed BIGINT (value range [0, 2^32) so the sign bit is
    never set); parse/mask are pure built-ins, fully codegen'd.
  * IPv6 — struct<hi: bigint, lo: bigint> (network byte order, bits
    reinterpreted as two signed int64 limbs); parsing goes through an
    Arrow-batched pandas UDF (the slow path, used once at ingest), while
    masking and comparison stay JVM-side long arithmetic
    (operators/prefix_join.ip6_mask_limbs).

Masking uses shiftrightunsigned/shiftleft so Catalyst folds the per-length
mask into the comparison; no Python in any probe path."""

from __future__ import annotations

import ipaddress

import pandas as pd
from pyspark.sql import Column, functions as F
from pyspark.sql.functions import pandas_udf

# --------------------------------------------------------------------------
# IPv4 — all built-ins
# --------------------------------------------------------------------------

_IP4_RE = r"^(\d{1,3})\.(\d{1,3})\.(\d{1,3})\.(\d{1,3})$"


def ip4_aton(col: Column) -> Column:
    """Dotted-quad string -> BIGINT; null for malformed input (the
    reference fails the frame, inet.c:72-90).  ANSI-safe: octets are
    validated by regex before any cast."""
    octet = lambda i: F.regexp_extract(col, _IP4_RE, i).cast("long")  # noqa: E731
    valid = (
        col.rlike(_IP4_RE)
        & (octet(1) <= 255) & (octet(2) <= 255)
        & (octet(3) <= 255) & (octet(4) <= 255)
    )
    num = (
        octet(1) * F.lit(16777216)
        + octet(2) * F.lit(65536)
        + octet(3) * F.lit(256)
        + octet(4)
    )
    return F.when(valid, num).otherwise(F.lit(None).cast("long"))


def ip4_mask(col: Column, plen: int) -> Column:
    """Keep the top `plen` bits of an IPv4 BIGINT (subnet_activity.c's
    per-length mask table, folded to a constant by Catalyst)."""
    if plen <= 0:
        return F.lit(0).cast("long")
    keep = min(plen, 32)
    mask = ((1 << keep) - 1) << (32 - keep)
    return col.bitwiseAND(F.lit(mask))


# --------------------------------------------------------------------------
# IPv6 — parse via Arrow-batched pandas UDF
# --------------------------------------------------------------------------


def _ip6_aton_batch(s: pd.Series) -> pd.DataFrame:
    his, los = [], []
    for v in s:
        try:
            n = int(ipaddress.IPv6Address(v))
            hi = (n >> 64) & 0xFFFFFFFFFFFFFFFF
            lo = n & 0xFFFFFFFFFFFFFFFF
            his.append(hi - (1 << 64) if hi >= (1 << 63) else hi)
            los.append(lo - (1 << 64) if lo >= (1 << 63) else lo)
        except (ipaddress.AddressValueError, TypeError, ValueError):
            his.append(None)
            los.append(None)
    # nullable Int64, NOT the default inference: a single None would
    # coerce the column to float64, silently rounding limbs past 2^53
    # (an exact /64 compare then fails for valid rows in the same batch)
    return pd.DataFrame(
        {"hi": pd.array(his, dtype="Int64"), "lo": pd.array(los, dtype="Int64")}
    )


def ip6_aton(col: Column) -> Column:
    """IPv6 text -> struct<hi, lo> of signed int64 limbs (big-endian);
    null for malformed input.  Arrow-batched pandas UDF — one Python call
    per batch (UDF constructed lazily: decorating at import time needs an
    active session)."""
    return pandas_udf(_ip6_aton_batch, "struct<hi: long, lo: long>")(col)


# --------------------------------------------------------------------------
# CIDR helpers (driver-side, for tiny subnet-definition dims — S6 source)
# --------------------------------------------------------------------------


def parse_cidr(cidr: str) -> tuple[int, int, int]:
    """'a.b.c.d/len' or 'v6/len' -> (version, network_int, plen)."""
    net = ipaddress.ip_network(cidr, strict=False)
    return net.version, int(net.network_address), net.prefixlen
