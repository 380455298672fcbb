"""Domain-admission IP/Geo blocklist.

Reimplements IpBlockList + GeoIpBlocklist semantics (ref: code/processes/
crawling-process/ft-crawl-blocklist/java/nu/marginalia/ip_blocklist/
IpBlockList.java:61-93, GeoIpBlocklist.java:19-42):

- reject ``.cn`` TLD outright;
- reject hostnames containing 4+ consecutive digits (link-farm heuristic);
- CIDR blocklist (broadcast dimension table of (net, mask) ranges);
- geo graylist {CN,HK,RU,TW,IN,ZA,SG,UA}: allowed only for bare or
  ``www.`` hosts.

Provided as predicate + SQL forms; the CIDR check uses an int-range
join (ip int BETWEEN lo AND hi) against a broadcast ranges table.
"""

from __future__ import annotations

import re
from typing import Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

GEO_GRAYLIST = frozenset({"CN", "HK", "RU", "TW", "IN", "ZA", "SG", "UA"})
_DIGIT_RUN = re.compile(r"\d{4,}")


def ip_to_int(ip: str) -> Optional[int]:
    parts = ip.split(".")
    if len(parts) != 4:
        return None
    try:
        octs = [int(p) for p in parts]
    except ValueError:
        return None
    if any(o < 0 or o > 255 for o in octs):
        return None
    return (octs[0] << 24) | (octs[1] << 16) | (octs[2] << 8) | octs[3]


def cidr_to_range(cidr: str) -> tuple[int, int]:
    net, _, bits = cidr.partition("/")
    base = ip_to_int(net) or 0
    width = 32 - int(bits or 32)
    lo = (base >> width) << width
    return lo, lo | ((1 << width) - 1)


def is_domain_blocked(
    domain: str,
    sub_domain: str,
    ip: Optional[str] = None,
    country: Optional[str] = None,
    cidr_ranges: Optional[list[tuple[int, int]]] = None,
) -> bool:
    if domain.endswith(".cn"):
        return True
    # the reference's numeric rule matches the FULL hostname
    # (IpBlockList.java:60 `.*\d{4}.*` on domain.toString())
    if _DIGIT_RUN.search(domain):
        return True
    if country in GEO_GRAYLIST and sub_domain not in ("", "www"):
        return True
    if ip is not None and cidr_ranges:
        ipi = ip_to_int(ip)
        if ipi is not None and any(lo <= ipi <= hi for lo, hi in cidr_ranges):
            return True
    return False


def domain_blocked_expr(domain: str, sub_domain: str, country: str) -> str:
    """SQL form over SQL expressions for the three inputs (CIDR check
    joins separately via blocked_by_cidr); a caller plans it with the rest
    of its projection, in one py4j call."""
    gray = ", ".join(f"'{c}'" for c in sorted(GEO_GRAYLIST))
    return (
        f"endswith({domain}, '.cn') OR {domain} RLIKE '[0-9]{{4,}}'"
        f" OR ({country} IN ({gray}) AND {sub_domain} NOT IN ('', 'www'))"
    )


def filter_blocked_by_cidr(
    domains: DataFrame, cidr_df: DataFrame, ip_col: str = "ip_int"
) -> DataFrame:
    """Drop rows whose ip_int falls in any broadcast CIDR range
    (range-join against the small blocklist dimension)."""
    hit = (
        domains.join(
            F.broadcast(cidr_df),
            (F.col(ip_col) >= F.col("range_lo")) & (F.col(ip_col) <= F.col("range_hi")),
            "left_semi",
        )
    )
    return domains.join(hit.select(ip_col).distinct(), ip_col, "left_anti")
