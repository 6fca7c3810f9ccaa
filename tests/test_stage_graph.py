"""The KG stage graph gives the same answer under every materializer:
in memory (``KGPipeline.run``), parquet checkpoints from scratch, and
parquet checkpoints resumed after ``entities``."""

import os

import pytest
from pyspark.sql import functions as F

from waka_spark import synth
from waka_spark.plans.checkpoint import CheckpointManager, run_checkpointed
from waka_spark.plans.pipeline import KGPipeline

STAGES = [
    "documents", "mentions", "candidates", "entities", "raw_triples",
    "linked_triples", "fused", "triples", "final_entities",
]
RESUME_AFTER = STAGES.index("entities") + 1


def _doc_text_scorer(candidates):
    """An NLI-style scorer: it reads the conversation text, so it must be
    handed ``doc_text`` whichever runner built the graph."""
    assert "doc_text" in candidates.columns, candidates.columns
    return candidates.withColumn(
        "score",
        F.when(F.col("doc_text").isNotNull(), F.col("score")).otherwise(0.0))


@pytest.fixture(scope="module")
def synth_scored(spark):
    kb = synth.build_kb(20)
    pipe = KGPipeline(
        aliases=synth.aliases_df(spark, kb),
        properties=synth.properties_df(spark),
        gazetteer=synth.gazetteer(kb),
        rules=synth.rules_df(spark, kb),
        extra_scorer=_doc_text_scorer,
    )
    transcripts = synth.synth_transcripts(
        spark, kb, n_convs=6, hot_every=5, hot_turns=12, base_turns=5)
    return pipe, transcripts


def _outputs(out):
    """Columns and sorted rows of the three graph outputs."""
    return {
        name: (out[name].columns,
               sorted(repr(tuple(r)) for r in out[name].collect()))
        for name in ("triples", "final_entities", "entity_mentions")
    }


@pytest.mark.parametrize("resolve", [True, False])
def test_materializers_agree(spark, synth_scored, tmp_path, resolve):
    pipe, transcripts = synth_scored
    in_memory = _outputs(pipe.run(transcripts, resolve=resolve))

    fresh = CheckpointManager(spark, str(tmp_path), "run")
    from_parquet = _outputs(run_checkpointed(pipe, transcripts, fresh,
                                             resolve=resolve))
    assert fresh.stages_run == STAGES and not fresh.stages_resumed

    for stage in STAGES[RESUME_AFTER:]:
        os.remove(tmp_path / "run" / stage / "manifest.json")
    # a resumed job starts in a new JVM: drop the fresh run's pinned frames
    spark.catalog.clearCache()
    resumed = CheckpointManager(spark, str(tmp_path), "run")
    from_resume = _outputs(run_checkpointed(pipe, transcripts, resumed,
                                            resolve=resolve))
    assert resumed.stages_resumed == STAGES[:RESUME_AFTER]
    assert resumed.stages_run == STAGES[RESUME_AFTER:]

    assert in_memory == from_parquet == from_resume
    assert all(rows for _, rows in in_memory.values())


def test_run_rejects_removed_lineage_modes(synth_scored):
    pipe, transcripts = synth_scored
    for mode in ("smart", "none", False):
        with pytest.raises(ValueError, match="cut_lineage"):
            pipe.run(transcripts, cut_lineage=mode)
