"""Tests of the benchmark itself, on sf0.001-sized inputs (500 documents).

    python3 -m pytest kgbench -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import re
import sys
from itertools import islice
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(ROOT))
sys.path.insert(0, str(HERE))

import common  # noqa: E402
import run as bench_run  # noqa: E402
import spans  # noqa: E402
import workloads  # noqa: E402

SMALL_DOCS = 500  # rows of the sf0.001 documents test table


def test_same_seed_gives_identical_inputs():
    a = workloads.submit_documents(7, SMALL_DOCS)
    assert a.equals(workloads.submit_documents(7, SMALL_DOCS))
    assert not a.equals(workloads.submit_documents(8, SMALL_DOCS))

    from waka_spark import synth

    kb = synth.build_kb(workloads.KB_ENTITIES)
    first = list(islice(workloads.serve_requests(7, kb), 5))
    again = list(islice(workloads.serve_requests(7, kb), 5))
    other = list(islice(workloads.serve_requests(8, kb), 5))
    assert first == again
    assert first != other
    assert all(n == workloads.REQUEST_SENTENCES for _, _, n, _ in first)


def test_metric_names_are_valid():
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    name = re.compile(r"[A-Za-z0-9_.-]+")
    e2e = [m["name"] for m in bench["end_to_end"]]
    layer = [m["name"] for m in bench["per_layer"]]
    assert all(name.fullmatch(n) and len(n) <= 64 for n in e2e + layer)
    assert len(set(e2e + layer)) == len(e2e + layer)
    assert e2e == [n for n, _ in bench_run.END_TO_END]
    assert [(m["name"], m["unit"], m["better"]) for m in bench["per_layer"]] \
        == spans.per_layer_spec()
    assert {w["name"] for w in bench["workloads"]} == set(workloads.WORKLOADS)


def test_wrong_gold_triple_is_a_failure(tmp_path):
    import pyarrow.parquet as pq

    docs = workloads.submit_documents(3, SMALL_DOCS)
    path = tmp_path / "documents.parquet"
    pq.write_table(docs, path)
    gold = workloads.oracle_triples(path, SMALL_DOCS)
    assert gold  # 50 conversations, four rules

    run = workloads.Run()
    run.check_triples("right", set(gold), gold)
    wrong = set(gold) | {("0", "http://example.org/Q_spark",
                          "http://example.org/P_links",
                          "http://example.org/Q_vector")}
    run.check_triples("wrong", set(gold), wrong)
    assert (run.attempted, run.failed) == (2, 1)
    assert "1 missing" in run.problems[0]


def test_oracle_follows_the_view_modulus():
    assert workloads.docs_modulus(SMALL_DOCS) == 50
    assert workloads.docs_modulus(50_000) == 500


def test_event_log_grouping_and_self_time(tmp_path):
    def task(stage, ms, shuffle=0, py=0):
        return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
                "Task Info": {"Launch Time": 0, "Finish Time": ms,
                              "Accumulables": [
                                  {"Name": "data sent to Python workers",
                                   "Update": str(py)},
                                  {"Name": "time to start Python workers",
                                   "Update": "5"}]},
                "Task Metrics": {"Executor Run Time": ms,
                                 "Shuffle Write Metrics":
                                     {"Shuffle Bytes Written": shuffle}}}

    events = [
        {"Event": "SparkListenerJobStart", "Stage IDs": [0],
         "Properties": {"spark.jobGroup.id": "kgb-0"}},
        task(0, 100, shuffle=10, py=3), task(0, 300, py=4),
        {"Event": "SparkListenerJobStart", "Stage IDs": [1, 2],
         "Properties": {"spark.jobGroup.id": "kgb-1"}},
        task(1, 50),
    ]
    log = tmp_path / "log"
    log.write_text("\n".join(json.dumps(e) for e in events))
    groups = spans.parse_event_log(log)
    assert (groups["kgb-0"]["jobs"], groups["kgb-0"]["tasks"]) == (1, 2)
    assert groups["kgb-0"]["shuffle_bytes"] == 10
    assert groups["kgb-0"]["python_bytes"] == 7

    slices = [
        {"name": "ner", "unit": "u", "start": 0.0, "end": 1.0,
         "parent": None, "group": "kgb-0"},
        {"name": "checkpoint", "unit": "u", "start": 1.0, "end": 1.5,
         "parent": None, "group": "kgb-1"},
        {"name": "ner", "unit": "aux", "start": 2.0, "end": 9.0,
         "parent": None, "group": "kgb-9"},
    ]
    m = spans.layer_metrics(slices, groups, {"u"}, cores=4)
    assert m["ner.wall_s"] == 1.0  # the aux slice is not a timed unit
    assert m["ner.jobs"] == 1 and m["checkpoint.jobs"] == 1
    assert m["ner.python_init_s"] == 0.01
    assert m["ner.busy_share"] == pytest.approx(0.4 / 4)
    assert m["ner.task_skew"] == 300 / 200
    assert "ner" in spans.format_table(m)


def test_submit_job_checks_against_the_oracle():
    """The submit job on 500 documents matches the oracle; the same output
    against a gold set with one wrong triple counts a failure."""
    import pyarrow.parquet as pq

    work = common.Workdir(ROOT, "test")
    spark = common.start_spark(ROOT, work, trace=False)
    try:
        docs = workloads.submit_documents(5, SMALL_DOCS)
        path = work / "documents.parquet"
        pq.write_table(docs, path)
        gold = workloads.oracle_triples(path, SMALL_DOCS)
        ctx = workloads.Context(spark, work, 5, 0, None)
        manager = workloads.submit_job(
            ctx, path, work / "ckpt", work / "graph")
        got = {r[:4] for r in workloads._edges(spark, work / "graph")}
        assert manager.manifest("mentions")["rows_out"] \
            == workloads.expected_mentions(docs)
        run = workloads.Run()
        run.check_triples("fresh", got, gold)
        conv, _, pred, obj = sorted(gold)[0]
        wrong = (conv, "http://example.org/Q_merge", pred, obj)
        assert wrong not in gold
        run.check_triples("wrong gold", got, gold - {sorted(gold)[0]} | {wrong})
        assert (run.attempted, run.failed) == (2, 1)
        assert "1 extra, 1 missing" in run.problems[0]
    finally:
        common.stop_spark(spark)
        work.close()
