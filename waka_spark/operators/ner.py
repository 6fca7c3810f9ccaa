"""P2-P7 — entity mention detection.

The reference runs an ensemble of three transformer NER backends per document
(entity_recognition.py:332-349) and unions their mentions with span-only set
identity (kg.py:34-35). We reproduce the *dataflow*: N pluggable mention
sources → ``union_mentions`` (priority-ordered span dedup).

Every deterministic scan of the corpus text is ONE Arrow kernel,
:func:`deterministic_ner_and_rules`: a ``mapInPandas`` that finds each
document's mention spans (:func:`_mention_spans`) and fired surface rules
(:func:`_fired_rules`), with its scanners built once per Python worker
process (:func:`_scanner`). The public scans are projections of it:

- ``gazetteer_ner`` — all word-boundary occurrences of every gazetteer
  surface. The CPU test/bench backend.
- ``regex_literal_ner`` — numbers / percents / years → typed-literal
  mentions (the P7 literal-encoding path, entity_recognition.py:84-97).
- ``deterministic_ner_fused`` — both, with ``union_mentions``' span
  priority applied inside the kernel.
- ``relations.aho_relation_extraction`` — the fired rules as raw triples.

Other mention sources:

- ``merge_token_runs`` — the relational equivalent of spaCy's contiguous
  PROPN/NOUN run merge (entity_recognition.py:101-171): lag-compare
  sessionization + run-prefix emission, pure DataFrame ops.
- transformer backends (spaCy/Stanza/Flair analogs) share the same
  ``mapInPandas`` shape with per-worker model caches; gated behind
  import guards since the models aren't in this environment.

Scale notes: each scan is a narrow map over documents (no shuffle);
the union is a unionByName + one ``row_number`` per span — a single shuffle
on (doc key, span), partition-pruned by the documents' conv_id partitioning.
"""

from __future__ import annotations

import hashlib
import re
from typing import Iterable, Iterator, Sequence

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from waka_spark.functions.aho import make_scanner, word_bounded
from waka_spark.functions.literals import encode_literal

MENTION_COLS = "conv_id string, start_idx int, end_idx int, text string, e_type string, url string"
_MENTION_NAMES = ["conv_id", "start_idx", "end_idx", "text", "e_type", "url"]

SCAN_PRODUCT_COLS = (
    "conv_id string, kind string, start_idx int, end_idx int, text string, "
    "e_type string, url string, subj_text string, pred_text string, "
    "obj_text string"
)
_SCAN_PRODUCT_NAMES = [
    "conv_id", "kind", "start_idx", "end_idx", "text", "e_type", "url",
    "subj_text", "pred_text", "obj_text",
]

# trailing guard blocks decimal/percent continuations ("3.14"→whole match
# only, "27%%"→none) but not sentence punctuation ("staff 4019.")
_NUMBER_RE = re.compile(r"(?<![\w.])[+-]?\d[\d,]*(?:\.\d+)?%?(?!\w|\.\d|%)")
_YEAR_RE = re.compile(r"(?<!\w)(1[0-9]{3}|20[0-9]{2})(?!\w)")

_SCANNERS: dict[str, object] = {}


def _digest(patterns: Sequence[str]) -> str:
    """Unambiguous scanner key. A joined-string key collides when a
    surface itself contains the separator ({'a|b'} vs {'a','b'}) and would
    hand one pattern set another set's scanner."""
    return hashlib.md5(repr(list(patterns)).encode()).hexdigest()


def _scanner(key: str, patterns: Sequence[str]):
    """The scanner for ``patterns`` (``key`` = their driver-side
    :func:`_digest`), built once per Python worker process and reused by
    its later tasks and jobs.

    The UDF reaches this function by module reference, so ``_SCANNERS``
    is the worker's own module state. A cache or cell the UDF closed over
    would be pickled into the command and rebuilt on every task.
    """
    scanner = _SCANNERS.get(key)
    if scanner is None:
        if len(_SCANNERS) >= 8:  # bound worker memory across jobs
            _SCANNERS.clear()
        scanner = _SCANNERS[key] = make_scanner(patterns)
    return scanner


def _mention_spans(
    text: str, scanner, type_of: dict[str, str], literals: bool
) -> dict[tuple[int, int], tuple[str, str]]:
    """(start, end) → (surface, e_type) for one document: gazetteer hits
    on word boundaries first, then years, then numbers into spans still
    vacant — ``union_mentions(gazetteer, literals)`` priority."""
    spans: dict[tuple[int, int], tuple[str, str]] = {}
    for start, end, surface in scanner.finditer(text):
        if word_bounded(text, start, end):
            spans[(start, end)] = (surface, type_of[surface])
    if literals:
        for m in _YEAR_RE.finditer(text):
            spans.setdefault((m.start(), m.end()), (m.group(0), "DATE"))
        for m in _NUMBER_RE.finditer(text):
            key = (m.start(), m.end())
            if key not in spans:
                e_type = "PERCENT" if m.group(0).endswith("%") else "CARDINAL"
                spans[key] = (m.group(0), e_type)
    return spans


def _fired_rules(
    text: str, scanner, rules: Sequence[tuple[str, str, str]]
) -> list[tuple[str, str, str]]:
    """The (subj, pred, obj) rules whose subject AND object surfaces both
    occur in one document."""
    present = scanner.present(text)
    return [r for r in rules if r[0] in present and r[2] in present]


def deterministic_ner_and_rules(
    documents: DataFrame,
    gazetteer: Sequence[tuple[str, str]],
    rule_list: Sequence[tuple[str, str, str]],
    *,
    _literals: bool = True,
) -> DataFrame:
    """The deterministic corpus scan — mentions (rows with ``kind='m'``)
    AND fired-rule raw triples (``kind='r'``) — in ONE Arrow pass over the
    document text.

    Document text is the bulk of the corpus bytes, so every deterministic
    scan is this kernel and a projection of its rows
    (:func:`mention_rows`, ``relations.raw_triple_rows``): a caller that
    needs both products pins the scan and splits it by ``kind``, and the
    text crosses the JVM→Python boundary once. Per document the gazetteer
    scanner and the rule-surface scanner each make one pass (``_literals``
    off drops the year/number spans, for ``gazetteer_ner`` and
    ``relations.aho_relation_extraction``). The rule list
    and gazetteer travel in the UDF's pickled command; transformer
    backends keep separate stages.
    """
    type_of = {s: t for s, t in gazetteer}
    surfaces = list(type_of)
    rules = list(rule_list)
    rule_surfaces = sorted(
        {s for s, _, o in rules} | {o for _, _, o in rules})
    gaz_key, rule_key = _digest(surfaces), _digest(rule_surfaces)

    def scan(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        gaz_scanner = _scanner(gaz_key, surfaces)
        rule_scanner = _scanner(rule_key, rule_surfaces)
        for pdf in batches:
            rows = []
            for conv_id, text in zip(pdf["conv_id"], pdf["text"]):
                if not text:
                    continue
                spans = _mention_spans(text, gaz_scanner, type_of, _literals)
                for (s, e), (surface, e_type) in spans.items():
                    rows.append((conv_id, "m", s, e, surface, e_type,
                                 encode_literal(surface, e_type),
                                 None, None, None))
                for subj, pred, obj in _fired_rules(text, rule_scanner, rules):
                    rows.append((conv_id, "r", None, None, None, None, None,
                                 subj, pred, obj))
            columns = dict(zip(_SCAN_PRODUCT_NAMES, map(list, zip(*rows))))
            yield pd.DataFrame(columns, columns=_SCAN_PRODUCT_NAMES)

    return documents.select("conv_id", "text").mapInPandas(
        scan, SCAN_PRODUCT_COLS)


def mention_rows(scan: DataFrame) -> DataFrame:
    """The mentions of a corpus scan: its ``kind='m'`` rows as
    ``MENTION_COLS``."""
    return scan.filter(F.col("kind") == "m").select(*_MENTION_NAMES)


def gazetteer_ner(
    documents: DataFrame, gazetteer: Sequence[tuple[str, str]]
) -> DataFrame:
    """All word-boundary occurrences of every gazetteer surface,
    overlapping ones included: the corpus scan without literals or rules.

    The gazetteer is a *dictionary*, small by construction, shipped with
    the serialized UDF; the documents side streams through Arrow batches.
    """
    return mention_rows(
        deterministic_ner_and_rules(documents, gazetteer, [], _literals=False))


def regex_literal_ner(documents: DataFrame) -> DataFrame:
    """Numeric/percent/year mentions with typed-literal URLs (P7): the
    corpus scan with an empty gazetteer.

    Labels follow the reference's NER label sets (entity_recognition.py:34-36):
    ``%``-suffixed → PERCENT, bare 4-digit years → DATE, other numbers →
    CARDINAL. The URL is minted here, so these mentions pass through entity
    linking as pre-linked literals with score 1.0 (entity_linking.py:83-93).
    """
    return mention_rows(deterministic_ner_and_rules(documents, [], []))


def deterministic_ner_fused(
    documents: DataFrame, gazetteer: Sequence[tuple[str, str]]
) -> DataFrame:
    """``union_mentions(gazetteer_ner(d, g), regex_literal_ner(d))`` in ONE
    Arrow pass — bit-identical output, pinned by tests/test_ner_linking.py.

    Why it exists: document text is the bulk of the bytes, and the
    two-backend composition ships it to Python *twice* and then pays a
    full-corpus ``row_number`` shuffle just to dedup exact-span collisions.
    Both backends emit unique spans per document (the scanner yields each
    (start, end) once; the literal spans dedup in a dict), so the
    priority-ordered union is equivalent to an in-UDF dict insert —
    gazetteer first, literals only into vacant spans — and needs no
    shuffle at all. At 10^12 turns this removes one full pass of the
    corpus through Arrow plus one all-mentions exchange.

    The generic ``union_mentions`` stays for heterogeneous ensembles
    (transformer backends can emit overlapping duplicates across workers).
    """
    return mention_rows(deterministic_ner_and_rules(documents, gazetteer, []))


def union_mentions(*backends: DataFrame) -> DataFrame:
    """P6 — ensemble union with span-only identity (kg.py:34-35): the
    reference's ``set.union`` keeps the element from the *earlier* backend
    (entity_recognition.py:343-348), so dedup is priority-ordered:
    backend order in ``*backends`` is the priority order."""
    tagged = [df.withColumn("_prio", F.lit(i)) for i, df in enumerate(backends)]
    unioned = tagged[0]
    for df in tagged[1:]:
        unioned = unioned.unionByName(df)
    w = Window.partitionBy("conv_id", "start_idx", "end_idx").orderBy("_prio")
    return (
        unioned
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_prio", "_rn")
    )


def merge_token_runs(
    tokens: DataFrame, tags: Iterable[str] = ("PROPN", "NOUN")
) -> DataFrame:
    """Relational reimplementation of spaCy noun-run merging
    (entity_recognition.py:101-171): contiguous same-POS runs of
    PROPN/NOUN tokens yield (a) every single token as a mention and
    (b) every run *prefix* of length ≥ 2 (the reference appends the
    accumulated run at each extension step).

    Input: tokens(conv_id, token_idx, start_idx, end_idx, text, pos).
    Output: mention rows (url null, e_type = POS tag).

    Pattern: lag-compare → run-id cumsum → run-prefix window mins. This is
    the same sessionization shape usable for any ordered-run detection.
    """
    tags_list = list(tags)
    w_order = Window.partitionBy("conv_id").orderBy("token_idx")
    tok = (
        tokens
        .withColumn("_tagged", F.col("pos").isin(tags_list))
        .withColumn("_prev_pos", F.lag("pos").over(w_order))
        .withColumn(
            "_new_run",
            (~F.col("_tagged")) | F.col("_prev_pos").isNull()
            | (F.col("_prev_pos") != F.col("pos")),
        )
        .withColumn(
            "_run_id",
            F.sum(F.col("_new_run").cast("int")).over(
                w_order.rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
        .filter("_tagged")
    )
    w_run = Window.partitionBy("conv_id", "_run_id").orderBy("token_idx")
    singles = tok.select(
        "conv_id", "start_idx", "end_idx", "text",
        F.col("pos").alias("e_type"), F.lit(None).cast("string").alias("url"),
    )
    prefixes = (
        tok
        .withColumn("_pos_in_run", F.row_number().over(w_run))
        .withColumn("_run_start", F.min("start_idx").over(w_run))
        .filter(F.col("_pos_in_run") >= 2)
        .select(
            "conv_id",
            F.col("_run_start").alias("start_idx"),
            "end_idx",
            F.lit(None).cast("string").alias("text"),  # caller substrings doc
            F.col("pos").alias("e_type"),
            F.lit(None).cast("string").alias("url"),
        )
    )
    return singles.unionByName(prefixes)
