"""Strict driver-style correctness check: run a ``queries()`` entry on Spark
and its ``oracle_sql()`` on DuckDB over the same sf dir, sort columns by
name, sort rows, and compare a value hash EXACTLY (dtype-strict, no float
tolerance beyond canonical repr). Used by tests/test_oracle_strict.py and
runnable standalone:

    python tests/driver_mimic.py sf_dir q9_product_profit q12_...

Also the executed-plan reader (:func:`entry_run`): the plans of every SQL
execution an entry started, read back from Spark's SQL status store, linted
for scale-killer nodes, plus what the entry left behind in the session.
"""

from __future__ import annotations

import hashlib
from contextlib import contextmanager
from dataclasses import dataclass, field

import duckdb
import pandas as pd

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def duck_connect(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def canonical(pdf: pd.DataFrame) -> pd.DataFrame:
    """Columns sorted by name, rows sorted by all columns, tz dropped.

    Temporal columns are unified to datetime64[us]: Spark's toPandas gives
    object-dtype ``datetime.date`` for DATE columns where DuckDB gives
    datetime64 — a representation difference, not a value difference."""
    import datetime

    pdf = pdf.reindex(sorted(pdf.columns), axis=1).copy()
    for col in pdf.columns:
        s = pdf[col]
        if pd.api.types.is_datetime64_any_dtype(s):
            try:
                s = s.dt.tz_localize(None)
            except TypeError:
                pass
            pdf[col] = s.astype("datetime64[us]")
        elif s.dtype == object and s.notna().any() and isinstance(
            s.dropna().iloc[0], (datetime.date, datetime.datetime)
        ):
            pdf[col] = pd.to_datetime(s).astype("datetime64[us]")
    if len(pdf.columns):
        pdf = pdf.sort_values(by=list(pdf.columns), ignore_index=True)
    return pdf


def value_hash(pdf: pd.DataFrame) -> str:
    """Hash the canonical cell values via repr — exact, dtype-sensitive for
    int-vs-float (1 vs 1.0 differ) but repr-stable for equal floats."""
    h = hashlib.sha256()
    for col in pdf.columns:
        h.update(col.encode())
        for v in pdf[col].tolist():
            h.update(repr(v).encode())
    return h.hexdigest()


def compare(name: str, spark, sf_dir: str, con=None) -> dict:
    import __spark_entry__ as entry_mod

    qs, oracles = entry_mod.queries(), entry_mod.oracle_sql()
    own_con = con is None
    if own_con:
        con = duck_connect(sf_dir)
    try:
        got = canonical(qs[name](spark, sf_dir).toPandas())
        if name not in oracles:
            return {"name": name, "rows": len(got), "err": "no_oracle"}
        want = canonical(con.execute(oracles[name]).fetchdf())
        gh, wh = value_hash(got), value_hash(want)
        out = {
            "name": name,
            "rows_match": len(got) == len(want),
            "schema_match": list(got.columns) == list(want.columns),
            "hash_match": gh == wh,
            "spark_rows": len(got),
            "oracle_rows": len(want),
        }
        if not out["hash_match"] and out["rows_match"] and out["schema_match"]:
            # surface the first differing cell for debugging
            for col in got.columns:
                g, w = got[col].tolist(), want[col].tolist()
                for i, (a, b) in enumerate(zip(g, w)):
                    if repr(a) != repr(b):
                        out["first_diff"] = f"{col}[{i}]: spark={a!r} oracle={b!r} ({got[col].dtype} vs {want[col].dtype})"
                        break
                if "first_diff" in out:
                    break
        return out
    finally:
        if own_con:
            con.close()


# --- executed plans and session hygiene ------------------------------------

#: Scale-killer nodes no executed plan may contain:
#: - ``CartesianProduct``: an unkeyed join, quadratic in data volume;
#: - ``BroadcastNestedLoopJoin``: the non-equi fallback, quadratic per
#:   broadcast batch;
#: - ``BatchEvalPython``: a row-at-a-time Python UDF (only Arrow-batched
#:   ``ArrowEvalPython``/``MapInPandas`` are acceptable Python).
FORBIDDEN = ("CartesianProduct", "BroadcastNestedLoopJoin", "BatchEvalPython")


@dataclass
class EntryRun:
    """What one entry did: the final physical plan of every SQL execution it
    started (with the execution's description), and what it left behind."""

    executions: list[tuple[str, str]] = field(default_factory=list)
    leaks: list[str] = field(default_factory=list)

    def scale_killers(self) -> list[str]:
        return sorted({m for _, plan in self.executions for m in FORBIDDEN if m in plan})


def _executions(spark):
    """SQL executions in the status store, newest first."""
    return spark._jsparkSession.sharedState().statusStore().executionsList().reverseIterator()


def _last_execution_id(spark) -> int:
    it = _executions(spark)
    return it.next().executionId() if it.hasNext() else -1


def _executions_after(spark, mark: int) -> list[tuple[str, str]]:
    out = []
    it = _executions(spark)
    while it.hasNext():
        ex = it.next()
        if ex.executionId() <= mark:
            break
        out.append((ex.description(), ex.physicalPlanDescription()))
    return out[::-1]


def _leaks_reset(spark, conf_before: dict[str, str]) -> list[str]:
    """Name the persisted RDDs, cached plans and conf changes left in the
    session, then undo them all."""
    leaks = []
    rdds = list(spark.sparkContext._jsc.getPersistentRDDs().values())
    if rdds:
        leaks.append(f"{len(rdds)} persisted RDD(s)")
    if not spark._jsparkSession.sharedState().cacheManager().isEmpty():
        leaks.append("cached plans")
    spark.catalog.clearCache()
    for rdd in rdds:
        rdd.unpersist(True)
    conf = dict(spark.conf.getAll)
    for key in sorted(set(conf) | set(conf_before)):
        if conf.get(key) == conf_before.get(key):
            continue
        leaks.append(f"conf {key}: {conf_before.get(key)!r} -> {conf.get(key)!r}")
        if key in conf_before:
            spark.conf.set(key, conf_before[key])
        else:
            spark.conf.unset(key)
    return leaks


@contextmanager
def entry_run(spark):
    """Record the block as one entry run: on exit (also on error) the
    returned :class:`EntryRun` holds the executed plans of every SQL
    execution started inside the block and the session state it left
    behind, and that state is reset so the next entry starts clean."""
    run = EntryRun()
    conf_before = dict(spark.conf.getAll)
    _leaks_reset(spark, conf_before)  # what earlier code left is not this entry's
    mark = _last_execution_id(spark)
    try:
        yield run
    finally:
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        run.executions = _executions_after(spark, mark)
        run.leaks = _leaks_reset(spark, conf_before)


def run_entry(spark, name: str, sf_dir: str) -> EntryRun:
    """Run and collect one ``queries()`` entry under :func:`entry_run`."""
    import __spark_entry__ as entry_mod

    with entry_run(spark) as run:
        entry_mod.queries()[name](spark, sf_dir).toPandas()
    return run


if __name__ == "__main__":
    import json
    import os
    import sys

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    sf_dir = sys.argv[1]
    names = sys.argv[2:]
    from fsql_spark.session import get_spark

    spark = get_spark()
    con = duck_connect(sf_dir)
    for n in names:
        try:
            print(json.dumps(compare(n, spark, sf_dir, con)))
        except Exception as e:  # noqa: BLE001 — report and continue
            print(json.dumps({"name": n, "err": str(e).split("\n")[0][:300]}))
