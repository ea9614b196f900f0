"""Catalog-wide physical-plan lint over the plans that actually RAN: every
SQL execution a ``queries()`` entry started (its collect included) is read
back from Spark's SQL status store (``driver_mimic.entry_run``) and checked
for the three scale-killers in ``driver_mimic.FORBIDDEN``.

The oracle-parity test runs each entry once under ``entry_run`` and records
it; the per-entry tests here read that record, and run the entry themselves
only when it is missing (e.g. this file run alone). A future entry, or a
refactor of a shared helper, that de-optimizes into a forbidden shape fails
here by name — including behind a driver-side materialization, whose
distributed plans are executions of their own.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entry_mod
from fsql_spark.session import temp_conf
from tests.driver_mimic import entry_run, run_entry

SF = "/root/testdata/sf0.001"


@pytest.mark.parametrize("name", sorted(entry_mod.queries()))
def test_catalog_plan_has_no_scale_killers(name, spark, entry_runs):
    run = entry_runs.get(name) or run_entry(spark, name, SF)
    assert run.executions, f"{name}: no SQL execution recorded"
    assert not run.scale_killers(), f"{name}: an executed plan contains {run.scale_killers()}"


def test_reader_flags_each_scale_killer(spark):
    """Positive control: each forbidden shape, executed, is flagged — a change
    in the status store's plan format must not blind the lint silently."""
    a, b = spark.range(10), spark.range(5)
    slow_add = F.udf(lambda x: x + 1, "long")
    controls = {
        # no broadcast allowed: the unkeyed join plans as a CartesianProduct
        "CartesianProduct": lambda: a.crossJoin(b).count(),
        "BroadcastNestedLoopJoin": lambda: a.join(F.broadcast(b), a.id < b.id).count(),
        "BatchEvalPython": lambda: a.select(slow_add("id")).collect(),
    }
    for node, action in controls.items():
        with temp_conf(spark, **{"spark.sql.autoBroadcastJoinThreshold": "-1"}):
            with entry_run(spark) as run:
                action()
        assert run.scale_killers() == [node], (node, run.executions)
