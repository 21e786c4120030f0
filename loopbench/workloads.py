"""What each workload calls, and in which order.

``sql_requests`` is desdb's analyst: parameterized SQL through one
``Connection``. ``op_build`` is the pipeline caller: registered operators
whose ``fn()`` launches Spark jobs itself, each pass on a fresh copy of the
inputs. The run seed chooses request parameters and the call order within a
pass; the inputs themselves never depend on it.
"""

from __future__ import annotations

import datetime as dt
import random
from dataclasses import dataclass


@dataclass(frozen=True)
class Request:
    key: str  # template name: the unit of the typical-pass rule
    method: str  # Connection method: quick | quick_numpy | quickWrite
    sql: str


def _ts(day: dt.date) -> str:
    return f"TIMESTAMP '{day.isoformat()} 00:00:00'"


def _day(rng: random.Random, first: str, last: str) -> dt.date:
    lo, hi = dt.date.fromisoformat(first), dt.date.fromisoformat(last)
    return lo + dt.timedelta(days=rng.randrange((hi - lo).days + 1))


def _point(rng: random.Random, sizes: dict) -> Request:
    k = rng.randrange(sizes["orders"])
    return Request(
        "point_lookup",
        "quick",
        "SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, "
        "CAST(o_orderdate AS DATE) AS o_orderday, o_orderpriority "
        f"FROM orders WHERE o_orderkey = {k}",
    )


def _range7(rng: random.Random, sizes: dict) -> Request:
    d0 = _day(rng, "1995-01-02", "2001-10-28")
    return Request(
        "lineitem_range_numpy",
        "quick_numpy",
        "SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, "
        "l_discount, l_shipdate FROM lineitem "
        f"WHERE l_shipdate >= {_ts(d0)} "
        f"AND l_shipdate < {_ts(d0 + dt.timedelta(days=7))}",
    )


def _agg365(rng: random.Random, sizes: dict) -> Request:
    d0 = _day(rng, "1995-01-02", "2000-11-04")
    return Request(
        "flag_status_agg",
        "quick",
        "SELECT l_returnflag, l_linestatus, CAST(count(*) AS BIGINT) AS n_lines, "
        "CAST(sum(l_quantity) AS BIGINT) AS qty, "
        "CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS price_cents, "
        "CAST(sum(CAST(round(l_discount * 100) AS BIGINT)) AS BIGINT) AS disc_pct "
        f"FROM lineitem WHERE l_shipdate >= {_ts(d0)} "
        f"AND l_shipdate < {_ts(d0 + dt.timedelta(days=365))} "
        "GROUP BY l_returnflag, l_linestatus",
    )


def _join90(rng: random.Random, sizes: dict) -> Request:
    d0 = _day(rng, "1995-01-01", "2001-05-01")
    return Request(
        "orders_nation_join",
        "quick",
        "SELECT n.n_name, CAST(count(*) AS BIGINT) AS n_orders, "
        "CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS BIGINT) AS total_cents "
        "FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey "
        "JOIN nation n ON c.c_nationkey = n.n_nationkey "
        f"WHERE o.o_orderdate >= {_ts(d0)} "
        f"AND o.o_orderdate < {_ts(d0 + dt.timedelta(days=90))} "
        "GROUP BY n.n_name",
    )


def _events(rng: random.Random, sizes: dict) -> Request:
    kind = rng.choice(["click", "error", "purchase", "signup", "view"])
    u0 = rng.randrange(max(1, sizes["users"] - 100))
    return Request(
        "events_per_user",
        "quick",
        "SELECT user_id, CAST(count(*) AS BIGINT) AS n_events, "
        "CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents "
        f"FROM events WHERE event_type = '{kind}' "
        f"AND user_id >= {u0} AND user_id < {u0 + 100} GROUP BY user_id",
    )


def _export(rng: random.Random, sizes: dict) -> Request:
    nation = rng.randrange(25)
    return Request(
        "customer_csv_export",
        "quickWrite",
        "SELECT c_custkey, c_name, c_acctbal, c_mktsegment FROM customer "
        f"WHERE c_nationkey = {nation}",
    )


#: One pass of the analyst loop: each template once. No measured or cited
#: record of how often desdb's analysts send each kind of request exists, so
#: the mix is the plainest one: every template the analyst loop names, with
#: equal weight. On 4 cores the six templates fall into three pairs (point
#: lookup and export about 0.13 s, range and events group-by about 0.2 s,
#: aggregate and join about 0.4 s), so the pooled median sits in the middle
#: of the middle pair and, with ten passes, the tail in the middle of the
#: slow pair, away from the seams between templates.
SQL_PASS = (_point, _range7, _agg365, _join90, _events, _export)

#: Driver-loop operators, in their natural order. ``split_cluster_safe``
#: reuses the cluster memo that ``dedup_cluster_components`` filled on the
#: same inputs, so it always runs right after it.
BUILD_OPS = (
    "dedup_cluster_components",
    "split_cluster_safe",
    "ann_lsh_bucketed",
    "source_merge_upsert",
)

#: Scale factor of each workload's inputs.
SCALE = {"sql_requests": 0.1, "op_build": 0.01}

#: Seconds of ``--seconds`` that buy one measured pass: ``--seconds`` sets
#: ``seconds / PASS_SECONDS`` whole passes (at least one), so a faster program
#: gets the same number of samples and the same tail percentile. A warm pass
#: takes about 1.5 s (``sql_requests``) and 12 s (``op_build``) on 4 cores;
#: ``sql_requests`` buys ten passes with ``--seconds 10`` so that ten samples
#: lie beyond its tail inside one pair of templates.
PASS_SECONDS = {"sql_requests": 1.0, "op_build": 12.0}


def measured_passes(workload: str, seconds: float) -> int:
    return max(1, round(seconds / PASS_SECONDS[workload]))


def sql_pass(rng: random.Random, sizes: dict) -> list[Request]:
    reqs = [make(rng, sizes) for make in SQL_PASS]
    rng.shuffle(reqs)
    return reqs


def build_pass(rng: random.Random) -> list[str]:
    """The operators of one pass in seeded order, the memo pair kept
    adjacent."""
    units = [[op] for op in BUILD_OPS if op != "split_cluster_safe"]
    rng.shuffle(units)
    for unit in units:
        if unit == ["dedup_cluster_components"]:
            unit.append("split_cluster_safe")
    return [op for unit in units for op in unit]
