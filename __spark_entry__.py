"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship query smoke check at sf0.001.
``queries()`` — every implemented operator (SURVEY.md §2 + driver extensions),
one callable ``(spark, sf_dir) -> DataFrame`` each.
``oracle_sql()`` — DuckDB-equivalent ANSI SQL per query (omitted only for
genuinely non-SQL-expressible ops, which get the weaker rows-only check).

Engine code lives in ``fsql_spark``; this module only adapts it to the
driver harness.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from fsql_spark.relational import RELATIONAL_ORACLES, RELATIONAL_QUERIES  # noqa: E402
from fsql_spark.session import configure  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: TPC-H Q5-shaped star join
    (broadcast dims + shuffled facts + aggregation)."""
    configure(spark)
    from fsql_spark.relational import q5_local_supplier_volume

    return q5_local_supplier_volume(spark, "/root/testdata/sf0.001")


def _last_verified_round(has_oracle: set[str]) -> dict[str, int]:
    """Per-query: the latest round whose driver CORRECTNESS row actually
    VERIFIED it at its current strength — a hash-match for oracle-backed
    entries, any rows-only record for entries without an oracle. Errored or
    hash-mismatched rows don't count (those queries need re-checking), and
    a rows-only record doesn't count for an entry that HAS an oracle now
    (the oracle was added after that check and has never been exercised)."""
    import glob
    import json
    import re

    here = os.path.dirname(os.path.abspath(__file__))
    seen: dict[str, int] = {}
    for path in glob.glob(os.path.join(here, "CORRECTNESS_r*.json")):
        m = re.search(r"CORRECTNESS_r(\d+)", os.path.basename(path))
        if not m:
            continue
        rnd = int(m.group(1))
        try:
            with open(path) as f:
                rows = json.load(f)
        except (OSError, ValueError):
            continue
        if not isinstance(rows, dict):
            continue
        for name, row in rows.items():
            if not isinstance(row, dict):
                continue
            if name in has_oracle:
                verified = row.get("hash_match") is True
            else:
                verified = row.get("err") == "no_oracle" or row.get("hash_match") is True
            if verified:
                seen[name] = max(seen.get(name, 0), rnd)
    return seen


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    out: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
    out.update(RELATIONAL_QUERIES)
    from fsql_spark.sql import SQL_QUERIES

    out.update(SQL_QUERIES)
    from fsql_spark.fsql_catalog import FSQL_QUERIES

    out.update(FSQL_QUERIES)
    from fsql_spark.operators import EXTENSION_QUERIES

    out.update(EXTENSION_QUERIES)
    from fsql_spark.streaming import STREAMING_QUERIES

    out.update(STREAMING_QUERIES)
    # The driver correctness harness checks only the FIRST 50 registry
    # entries per round. With >50 registered queries a fixed order starves
    # the tail forever, so rotate (see _rotation_order): at most
    # _NEW_ENTRY_SLOT_CAP never-verified entries lead, the rest of the
    # window is reserved for the globally-oldest verified entries, so a
    # burst of new entries can never push the single oldest entry out of
    # the current round's window (the round-11 starvation mode). At the
    # current 203-entry catalog every entry gets a driver row within
    # ceil(203/50) = 5 rounds; the oldest entry always gets one THIS round.
    last = _last_verified_round(set(oracle_sql()))
    names = _rotation_order(list(out), last)
    return {n: out[n] for n in names}


#: How many of the driver's 50 per-round correctness slots may go to
#: never-verified (new / errored / newly-oracled) entries. The remaining
#: >= 40 slots are reserved for the globally-oldest verified entries.
_NEW_ENTRY_SLOT_CAP = 10
_DRIVER_WINDOW = 50


def _rotation_order(names: list[str], last: dict[str, int]) -> list[str]:
    """Order the registry for the driver's first-``_DRIVER_WINDOW`` check.

    Never-verified entries (no green driver row at current strength) sort
    first but only up to ``_NEW_ENTRY_SLOT_CAP`` of them enter the window;
    the window's remaining slots go to verified entries ascending by the
    round each was last verified (ties keep registration order), so the
    globally-oldest verified entry is ALWAYS inside the window. Overflow
    never-verified entries queue immediately after the window.
    """
    order = {n: i for i, n in enumerate(names)}
    never = sorted((n for n in names if n not in last), key=order.__getitem__)
    verified = sorted((n for n in names if n in last), key=lambda n: (last[n], order[n]))
    head_new = never[: _NEW_ENTRY_SLOT_CAP]
    overflow_new = never[_NEW_ENTRY_SLOT_CAP :]
    fill = _DRIVER_WINDOW - len(head_new)
    return head_new + verified[:fill] + overflow_new + verified[fill:]


def oracle_sql() -> dict[str, str]:
    out: dict[str, str] = {}
    out.update(RELATIONAL_ORACLES)
    from fsql_spark.sql import SQL_ORACLES

    out.update(SQL_ORACLES)
    from fsql_spark.fsql_catalog import FSQL_ORACLES

    out.update(FSQL_ORACLES)
    from fsql_spark.operators import EXTENSION_ORACLES

    out.update(EXTENSION_ORACLES)
    from fsql_spark.streaming import STREAMING_ORACLES

    out.update(STREAMING_ORACLES)
    return out
