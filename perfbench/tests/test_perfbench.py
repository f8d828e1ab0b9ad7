"""Tests of the benchmark itself: seeded inputs, the printed metric names,
the correctness check and the scheduler counters.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import types

import pytest

import gen
import run
from common import Op
from conftest import ROOT


def _snapshot(seed: int) -> bytes:
    t = gen.transcripts(seed)
    return repr(
        (
            [(d.doc_id, d.text) for d in t.base],
            [[(d.doc_id, d.text) for d in b] for b in t.refreshes],
            sorted(t.reversed_ids),
            gen.star_tables(t.base),
            gen.table_ops(seed),
        )
    ).encode()


def test_same_seed_same_bytes_other_seed_other_bytes():
    assert _snapshot(7) == _snapshot(7)
    assert _snapshot(7) != _snapshot(8)


def test_stated_shares_hold():
    t = gen.transcripts(3)
    rejected = sum(d.nrp is None for d in t.base) / len(t.base)
    assert abs(rejected - gen.REJECT_SHARE) < 0.03
    seen = {d.doc_id for d in t.base}
    for batch in t.refreshes:
        assert len(batch) == gen.REFRESH_DOCS
        redelivered = sum(d.doc_id in seen for d in batch)
        assert redelivered == round(gen.REFRESH_DOCS * gen.REDELIVER_SHARE)
        seen |= {d.doc_id for d in batch}
    nrps = [d.nrp for d in t.base if d.nrp]
    assert len(nrps) == len(set(nrps))


def test_printed_metric_names_match_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER


def test_corrupted_insight_result_is_a_failed_op(tmp_path):
    import warehouse
    from fp_data_lakehouse_spark.etl.insights import INSIGHTS

    ctx = types.SimpleNamespace(spark=None, scratch=str(tmp_path), seed=5)
    w = warehouse.Warehouse(ctx)
    w.write_inputs()
    name = "i03_grade_distribution"
    w.insights_ok({})  # registers the DuckDB views
    truth = w.duck.sql(INSIGHTS[name].sql).df()
    rows = [tuple(r) for r in truth.itertuples(index=False, name=None)]
    cols = list(truth.columns)

    good = {name: (Op("query", 0.1, True), (cols, rows))}
    w.check(good)
    assert good[name][0].ok

    bad_rows = [(rows[0][0], rows[0][1] + 1)] + rows[1:]
    bad = {name: (Op("query", 0.1, True), (cols, bad_rows))}
    w.check(bad)
    assert not bad[name][0].ok


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    scratch = str(tmp_path_factory.mktemp("spark"))
    os.rmdir(scratch)
    run._host_env(scratch)
    from fp_data_lakehouse_spark.session import get_session

    session = get_session("perfbench-test")
    yield session
    run._stop(session)


def test_job_range_counts_jobs_from_engine_pool_threads(spark):
    """incremental._parallel_jobs submits from pool threads, which do not
    inherit the caller's job group; counting by job-id range sees them."""
    from fp_data_lakehouse_spark.etl.incremental import _parallel_jobs
    from probe import SparkCounters

    c = SparkCounters(spark)
    sc = spark.sparkContext
    sc.setJobGroup("caller", "jobs submitted by the caller's thread")
    j0 = c.next_job_id()
    _parallel_jobs([lambda i=i: sc.parallelize(range(10 + i), 2).count() for i in range(3)])
    j1 = c.next_job_id()
    sc.setJobGroup("", "")
    assert j1 - j0 == 3
    in_group = set(sc.statusTracker().getJobIdsForGroup("caller"))
    assert not in_group & set(range(j0, j1))
    assert c.tasks(j0, j1) == 6
