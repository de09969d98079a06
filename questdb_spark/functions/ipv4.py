"""IPv4 helpers.

Reference: QuestDB IPv4 type (``cairo/ColumnType.java`` tag 25) with
netmask ops (``functions/math/BitwiseAndIPv4FunctionFactory`` etc.,
``functions/eq/EqIPv4...``). Spark-side: IPv4 lives as a LONG (unsigned
32-bit) with string converters and netmask math — pure expressions.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def ipv4_to_long(ip: Column) -> Column:
    """'a.b.c.d' → long."""
    parts = F.split(ip, r"\.")
    return (
        F.element_at(parts, 1).cast("long") * 16777216
        + F.element_at(parts, 2).cast("long") * 65536
        + F.element_at(parts, 3).cast("long") * 256
        + F.element_at(parts, 4).cast("long")
    )


def long_to_ipv4(v: Column) -> Column:
    """long → 'a.b.c.d' (bit shifts — no float division, engine-portable)."""
    return F.concat_ws(
        ".",
        F.shiftright(v, 24).bitwiseAND(F.lit(255)),
        F.shiftright(v, 16).bitwiseAND(F.lit(255)),
        F.shiftright(v, 8).bitwiseAND(F.lit(255)),
        v.bitwiseAND(F.lit(255)),
    )


def netmask(prefix_len: Column | int) -> Column:
    """CIDR prefix length → mask long (e.g. 24 → 0xFFFFFF00)."""
    p = F.lit(prefix_len) if isinstance(prefix_len, int) else prefix_len
    return (F.lit(4294967296) - F.pow(F.lit(2.0), (32 - p).cast("double")).cast("long")) % F.lit(
        4294967296
    )


def ipv4_and(ip_long: Column, mask: Column) -> Column:
    """Bitwise AND (subnet extraction) — QuestDB `ip & netmask('…')`."""
    return ip_long.bitwiseAND(mask)
