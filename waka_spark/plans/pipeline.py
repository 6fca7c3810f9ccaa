"""End-to-end KG construction pipeline (the Spark analog of
``KGConstructor.construct``, kg_construction.py:232-282).

The reference runs two OS-process pipelines per document and fuses in-process
(SURVEY.md §3.1). Here the whole thing is one stage graph, declared once in
:func:`run_stages`:

    transcripts ─P1─► documents ─► scan ─┬─► mentions ─► candidates ─► entities ─┐
                                        └─► raw_triples ─► linked_triples ──────┤
                                                                                ▼
                      fused (P16-P22) ─► triples + final_entities (P23-P24)

Each stage is lazy; a *materializer* ``(name, compute) -> DataFrame`` cuts
the lineage after it. ``KGPipeline.run`` materializes in memory (eager
``localCheckpoint``); ``plans/checkpoint.run_checkpointed`` commits each
stage to parquet and resumes mid-run.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Callable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from waka_spark.config import DEFAULT, EngineConfig
from waka_spark.operators import conflicts
from waka_spark.operators.assembly import assemble_documents
from waka_spark.operators.clustering import cluster_entities
from waka_spark.operators.fusion import fuse_triples
from waka_spark.operators.linking import link_entities
from waka_spark.operators.ner import (
    deterministic_ner_and_rules,
    deterministic_ner_fused,
    mention_rows,
)
from waka_spark.operators.rel_linking import link_predicates
from waka_spark.operators.relations import (
    aho_relation_extraction,
    collect_rules,
    raw_triple_rows,
)
from waka_spark.operators.rerank import rerank_candidates, split_sentences
from waka_spark.plans.pins import pin


@dataclass
class KGPipeline:
    """Deterministic-backend pipeline. The transformer backends swap in by
    overriding ``mentions`` / ``raw_triples`` with their mapInPandas
    counterparts — the dataflow downstream is identical."""

    aliases: DataFrame
    properties: DataFrame
    gazetteer: Sequence[tuple[str, str]]
    rules: DataFrame
    known_triples: DataFrame | None = None
    nationalities: DataFrame | None = None
    extra_scorer: Callable[[DataFrame], DataFrame] | None = None
    use_scorers: bool = True
    use_rerank: bool = True
    cfg: EngineConfig = field(default_factory=lambda: DEFAULT)

    # ---- stages (each returns a DataFrame; all lazy) -----------------------

    def documents(self, transcripts: DataFrame) -> DataFrame:
        return assemble_documents(transcripts)

    def mentions(self, documents: DataFrame) -> DataFrame:
        # deterministic ensemble as ONE Arrow pass: bit-identical to
        # union_mentions(gazetteer_ner, regex_literal_ner) (pinned by
        # tests/test_ner_linking.py) but ships the corpus text to Python
        # once and skips the exact-span dedup shuffle. Heterogeneous
        # ensembles (transformer backends) override this method with
        # union_mentions(...); priority order = arg order (P6).
        return deterministic_ner_fused(documents, self.gazetteer)

    def candidates(self, documents: DataFrame, mentions: DataFrame) -> DataFrame:
        cands = link_entities(
            mentions, self.aliases, self.nationalities, self.cfg.entity_linker
        )
        if not self.use_rerank:
            return cands.filter(
                F.col("score") >= self.cfg.fusion.rerank_threshold
            )
        sentences = split_sentences(documents)
        # dedup_pairs: real corpora repeat (sentence, label, description)
        # pairs heavily (hot conversations, common entities), so scoring
        # each distinct pair once and hash-joining back beats re-evaluating
        # the sim per aligned row — measured 37s vs 43s best-of at local[8]
        # on the 20k-conv Zipf corpus, and it is the reference's own CSE
        # (semantics.py:155-167)
        return rerank_candidates(
            cands, sentences, self.cfg.fusion.rerank_threshold,
            dedup_pairs=True,
        )

    def entities(self, candidates: DataFrame) -> DataFrame:
        return cluster_entities(candidates)

    def raw_triples(self, documents: DataFrame) -> DataFrame:
        # Aho-Corasick: one O(text) automaton pass per document regardless
        # of rule count; output equals relations.rule_relation_extraction's
        # double-`contains` theta join (pinned in tests/test_fake_transformers.py)
        return aho_relation_extraction(documents, self.rules)

    def scan_products(
        self, documents: DataFrame
    ) -> tuple[DataFrame, DataFrame]:
        """(mentions, raw_triples) — via ONE fused corpus Arrow pass when
        both stages are the deterministic defaults (document text crosses
        the JVM→Python boundary once instead of twice; identical per-stage
        output, pinned by tests/test_round6_scan_fusion.py). Subclassed
        backends keep the separate stages.
        """
        uses_default_scans = (
            type(self).mentions is KGPipeline.mentions
            and type(self).raw_triples is KGPipeline.raw_triples
        )
        if not uses_default_scans:
            return self.mentions(documents), self.raw_triples(documents)

        scan = pin(deterministic_ner_and_rules(
            documents, self.gazetteer, collect_rules(self.rules)))
        return mention_rows(scan), raw_triple_rows(scan)

    def linked_triples(self, raw_triples: DataFrame) -> DataFrame:
        return link_predicates(
            raw_triples, self.properties, self.cfg.relation_linker
        )

    def fused(
        self, linked_triples: DataFrame, entities: DataFrame,
        documents: DataFrame | None = None,
    ) -> DataFrame:
        return fuse_triples(
            linked_triples,
            entities,
            known_triples=self.known_triples,
            extra_scorer=self.extra_scorer,
            cfg=self.cfg.fusion,
            use_scorers=self.use_scorers,
            documents=documents,
        )

    # ---- whole graph -------------------------------------------------------

    def run(
        self, transcripts: DataFrame, resolve: bool = True,
        cut_lineage: bool | str = True,
    ) -> dict[str, DataFrame]:
        """The stage graph (:func:`run_stages`) in memory: every stage is
        cut by an eager ``localCheckpoint``. Shallow per-stage plans
        (Catalyst re-analyzes the whole logical plan at every action) and no
        recompute for multi-consumer stages. ``plans/checkpoint.py`` runs the
        same graph with parquet stages that survive executor loss and
        resume mid-run — use that on a real cluster.

        ``cut_lineage`` accepts only ``True``/``"checkpoint"`` (the one
        materialization), kept for callers that name it explicitly.
        """
        if cut_lineage is not True and cut_lineage != "checkpoint":
            raise ValueError(
                f"cut_lineage must be True or 'checkpoint', "
                f"got {cut_lineage!r}"
            )
        return run_stages(self, transcripts, local_checkpoint, resolve)


def local_checkpoint(name: str, compute: Callable[[], DataFrame]) -> DataFrame:
    """The in-memory materializer: an eager ``localCheckpoint`` per stage."""
    return compute().localCheckpoint(eager=True)


def _memo_pair(make: Callable[[], tuple[DataFrame, DataFrame]]):
    """Two thunks over one pair: the first thunk called runs ``make``, the
    other reuses its result. A resumed run that needs one half builds the
    pair once; one that needs neither never builds it."""
    pair: list[DataFrame] = []

    def half(i: int) -> Callable[[], DataFrame]:
        def thunk() -> DataFrame:
            if not pair:
                pair.extend(make())
            return pair[i]

        return thunk

    return half(0), half(1)


def run_stages(
    pipeline: KGPipeline,
    transcripts: DataFrame,
    materialize: Callable[[str, Callable[[], DataFrame]], DataFrame],
    resolve: bool = True,
) -> dict[str, DataFrame]:
    """The KG stage graph, written once: transcripts → {documents,
    mentions, candidates, entities, raw_triples, linked_triples, fused,
    triples, final_entities, entity_mentions}.

    ``materialize(name, compute)`` returns each stage's output; it is
    called for the nine stages in that order (``entity_mentions`` stays a
    lazy view of ``final_entities``). Stage methods are looked up on
    ``pipeline`` and ``apply_conflict_resolution`` on its module at call
    time, so subclasses and instrumentation see every call.

    - ``mentions`` and ``raw_triples`` are the two halves of ONE
      ``scan_products`` call: the corpus text crosses into Python once.
    - ``triples`` and ``final_entities`` are the two halves of ONE
      ``apply_conflict_resolution`` call (the reference's fusion likewise
      emits both from one pass, kg_construction.py:102-109): the pair
      shares the pinned per-conv fixpoint, so committing ``triples`` runs
      the applyInPandas once and ``final_entities`` reuses the cache.
    - ``resolve=False`` keeps the fused triples as they are and the
      entities those triples use.
    """
    m = materialize
    docs = m("documents", lambda: pipeline.documents(transcripts))
    scan_mentions, scan_raw = _memo_pair(lambda: pipeline.scan_products(docs))
    mentions = m("mentions", scan_mentions)
    cands = m("candidates", lambda: pipeline.candidates(docs, mentions))
    ents = m("entities", lambda: pipeline.entities(cands))
    raw = m("raw_triples", scan_raw)
    linked = m("linked_triples", lambda: pipeline.linked_triples(raw))
    fused = m("fused", lambda: pipeline.fused(linked, ents, docs))

    if resolve:
        resolve_triples, resolve_entities = _memo_pair(
            lambda: conflicts.apply_conflict_resolution(fused, ents))
    else:
        def resolve_triples() -> DataFrame:
            return fused

        def resolve_entities() -> DataFrame:
            used = (
                fused.select("conv_id", F.col("subj_url").alias("url"))
                .unionByName(
                    fused.select("conv_id", F.col("obj_url").alias("url")))
                .distinct()
            )
            return ents.join(used, on=["conv_id", "url"], how="left_semi")

    triples = m("triples", resolve_triples)
    final_entities = m("final_entities", resolve_entities)

    entity_mentions = final_entities.select(
        "conv_id", "url", F.explode("mentions").alias("m")
    ).select(
        "conv_id", "url",
        F.col("m")["start_idx"].alias("start_idx"),
        F.col("m")["end_idx"].alias("end_idx"),
        F.col("m")["text"].alias("text"),
        F.col("m")["score"].alias("score"),
    )

    return {
        "documents": docs,
        "mentions": mentions,
        "candidates": cands,
        "entities": ents,
        "raw_triples": raw,
        "linked_triples": linked,
        "fused": fused,
        "triples": triples,
        "final_entities": final_entities,
        "entity_mentions": entity_mentions,
    }


def bauhaus_pipeline(spark: SparkSession, **overrides) -> KGPipeline:
    """Pipeline wired with the bundled parity-fixture dictionaries."""
    from waka_spark.sources import fixtures as fx

    kwargs = dict(
        aliases=fx.aliases_df(spark),
        properties=fx.properties_df(spark),
        gazetteer=fx.BAUHAUS_GAZETTEER,
        rules=fx.rules_df(spark),
        known_triples=fx.known_triples_df(spark),
        nationalities=fx.nationalities_df(spark),
    )
    kwargs.update(overrides)
    return KGPipeline(**kwargs)
