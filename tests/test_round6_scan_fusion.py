"""Round-6: the fused NER+rule-RE corpus scan must be bit-identical, per
stage, to the separate deterministic stages it replaces."""

import collections
import os
import subprocess
import sys
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from waka_spark.operators.ner import (
    MENTION_COLS,
    deterministic_ner_and_rules,
    deterministic_ner_fused,
    gazetteer_ner,
    regex_literal_ner,
)
from waka_spark.operators.relations import (
    RAW_TRIPLE_COLS,
    aho_relation_extraction,
    raw_triple_rows,
)
from waka_spark.plans.pipeline import KGPipeline

REPO = Path(__file__).resolve().parent.parent


GAZ = [("spark", "TERM"), ("join", "TERM"), ("window", "TERM")]
RULES = [("spark", "links", "join"), ("window", "links", "spark")]


@pytest.fixture()
def docs(spark):
    return spark.createDataFrame(
        [
            ("c0", "spark join spark 1984 window 27% plain 3.5"),
            ("c1", "no surfaces here at all"),
            ("c2", ""),
            ("c3", None),
            ("c4", "window window join"),
        ],
        "conv_id string, text string",
    )


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_mention_split_matches_fused_ner(spark, docs):
    combined = deterministic_ner_and_rules(docs, GAZ, RULES)
    mentions = combined.filter(F.col("kind") == "m").select(
        "conv_id", "start_idx", "end_idx", "text", "e_type", "url")
    expected = deterministic_ner_fused(docs, GAZ)
    assert _rows(mentions) == _rows(expected)
    assert mentions.schema == expected.schema


def test_triple_split_matches_aho(spark, docs):
    rules_df = spark.createDataFrame(
        RULES, "subj_surface string, pred_text string, obj_surface string")
    raw = raw_triple_rows(deterministic_ner_and_rules(docs, GAZ, RULES))
    expected = aho_relation_extraction(docs, rules_df)
    assert _rows(raw) == _rows(expected)
    assert raw.schema == expected.schema


def test_pipeline_scan_products_match_separate_stages(spark, docs):
    rules_df = spark.createDataFrame(
        RULES, "subj_surface string, pred_text string, obj_surface string")
    aliases = spark.createDataFrame(
        [("spark", "http://x/Q1", "spark", "d", 10)],
        "alias_key string, url string, label string, description string, "
        "frequency long",
    )
    props = spark.createDataFrame(
        [("links", "http://x/P1", "links", "d", 10)],
        "alias_key string, url string, label string, description string, "
        "frequency long",
    )
    pipe = KGPipeline(
        aliases=aliases, properties=props, gazetteer=GAZ, rules=rules_df,
        use_scorers=False, use_rerank=False,
    )
    mentions, raw = pipe.scan_products(docs)
    assert _rows(mentions) == _rows(pipe.mentions(docs))
    assert _rows(raw) == _rows(pipe.raw_triples(docs))


def test_custom_mention_backend_keeps_separate_stages(spark, docs):
    rules_df = spark.createDataFrame(
        RULES, "subj_surface string, pred_text string, obj_surface string")
    aliases = spark.createDataFrame(
        [("spark", "http://x/Q1", "spark", "d", 10)],
        "alias_key string, url string, label string, description string, "
        "frequency long",
    )

    class CustomNER(KGPipeline):
        def mentions(self, documents):
            return deterministic_ner_fused(documents, self.gazetteer)

    pipe = CustomNER(
        aliases=aliases, properties=aliases, gazetteer=GAZ, rules=rules_df,
        use_scorers=False, use_rerank=False,
    )
    mentions, raw = pipe.scan_products(docs)
    # falls back to the overridden mentions() and the separate rule pass
    assert _rows(mentions) == _rows(pipe.mentions(docs))
    assert _rows(raw) == _rows(pipe.raw_triples(docs))


@pytest.mark.parametrize("scan, cols", [
    pytest.param(lambda d, r: gazetteer_ner(d, GAZ), MENTION_COLS,
                 id="gazetteer_ner"),
    pytest.param(lambda d, r: regex_literal_ner(d), MENTION_COLS,
                 id="regex_literal_ner"),
    pytest.param(lambda d, r: deterministic_ner_fused(d, GAZ), MENTION_COLS,
                 id="deterministic_ner_fused"),
    pytest.param(aho_relation_extraction, RAW_TRIPLE_COLS,
                 id="aho_relation_extraction"),
])
def test_scan_operator_schemas(spark, docs, scan, cols):
    """Every public scan is a projection of the one kernel and keeps its
    declared output schema."""
    rules_df = spark.createDataFrame(
        RULES, "subj_surface string, pred_text string, obj_surface string")
    out = scan(docs, rules_df)
    assert out.schema == spark.createDataFrame([], cols).schema
    assert out.collect()


# Installed as ``sitecustomize`` in the scan job's Python processes (driver,
# worker daemon and the workers it forks): logs each scanner build as
# "<pid> <digest of its patterns>".
_BUILD_LOG_HOOK = """
import hashlib
import os

from waka_spark.functions import aho

_make_scanner = aho.make_scanner


def make_scanner(patterns):
    patterns = list(patterns)
    digest = hashlib.md5(repr(patterns).encode()).hexdigest()
    with open(os.environ["SCANNER_BUILD_LOG"], "a") as fh:
        fh.write(f"{os.getpid()} {digest}\\n")
    return _make_scanner(patterns)


aho.make_scanner = make_scanner
"""

# 16 partitions on 2 cores, scanned twice: 32 tasks on (normally) two
# reused Python workers.
_SCAN_JOB = """
from pyspark.sql import SparkSession

from waka_spark.operators.ner import deterministic_ner_and_rules

spark = (SparkSession.builder.master("local[2]")
         .config("spark.ui.enabled", "false").getOrCreate())
docs = spark.createDataFrame(
    [(f"c{i}", f"spark join window {i}") for i in range(64)],
    "conv_id string, text string").repartition(16)
for _ in range(2):
    rows = deterministic_ner_and_rules(
        docs, [("spark", "T")], [("spark", "p", "join")]).collect()
    assert len(rows) == 3 * 64, len(rows)  # spark, the number, one rule
spark.stop()
"""


def test_scanner_built_once_per_python_worker(tmp_path):
    """The scan's scanners are built once per Python worker process and
    kept across its tasks and jobs, not rebuilt for every task."""
    hook = tmp_path / "hook"
    hook.mkdir()
    (hook / "sitecustomize.py").write_text(_BUILD_LOG_HOOK)
    log = tmp_path / "builds.log"
    log.touch()
    env = dict(
        os.environ,
        PYTHONPATH=os.pathsep.join(
            p for p in (str(hook), str(REPO), os.environ.get("PYTHONPATH"))
            if p),
        PYSPARK_PYTHON=sys.executable,
        SCANNER_BUILD_LOG=str(log),
    )
    job = subprocess.run([sys.executable, "-c", _SCAN_JOB], env=env,
                         capture_output=True, text=True, timeout=600)
    assert job.returncode == 0, job.stderr[-3000:]

    builds = collections.Counter(log.read_text().split("\n")[:-1])
    workers = {entry.split()[0] for entry in builds}
    # two scanners (gazetteer, rule surfaces) per worker, each built once
    assert builds and len(builds) == 2 * len(workers), builds
    assert set(builds.values()) == {1}, builds
