"""The benchmark's workloads. Each is a closed loop: one client in the
benchmark process sends its next request only after the previous one
returned. Every output is checked against gold; a failed check counts in
``Run.failed``.

``kg_submit_docs``
    ``scripts/submit_job.py``'s call sequence, in process: salted
    repartition, ``run_checkpointed`` into a fresh directory, ``write_graph``.
    Input is a seeded documents table read through ``__spark_entry__``'s
    ``_transcripts_view``, with that module's dictionaries and flags
    (rerank off, scorers off). After the fresh job the manifests of every
    stage committed after ``entities`` are deleted and the job runs again:
    the resume.

``kg_serve``
    ``serve.start_server(KGService)`` answering ``POST /kg``; each request
    is one synthetic conversation of 16 fact sentences drawn from the
    seed. After a warm-up request the server is restarted; the time from
    the restart to its first answer is the resume, and that answer is the
    first timed request.
"""

from __future__ import annotations

import json
import os
import random
import statistics
import time
import urllib.error
import urllib.request
from dataclasses import dataclass, field
from pathlib import Path

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

import __spark_entry__ as entry
import common
import spans
from waka_spark import schemas, synth
from waka_spark.operators.assembly import salted_repartition
from waka_spark.operators.conflicts import conflicted_conversations
from waka_spark.operators.linking import link_entities
from waka_spark.plans.checkpoint import CheckpointManager, run_checkpointed
from waka_spark.plans.pipeline import KGPipeline
from waka_spark.serve import KGService, start_server
from waka_spark.sources.sinks import write_graph

# ------------------------------------------------------------------ runs


@dataclass
class Run:
    """What one workload run measured and checked."""

    attempted: int = 0
    failed: int = 0
    problems: list[str] = field(default_factory=list)
    unit_s: list[float] = field(default_factory=list)
    unit_turns: list[int] = field(default_factory=list)
    resume_s: list[float] = field(default_factory=list)
    setup_s: float = 0.0
    traced_units: set[str] = field(default_factory=set)
    traced_wall_s: float = 0.0
    extra: dict[str, float] = field(default_factory=dict)

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.problems.append(what)

    def check_triples(self, label: str, got: set, gold: set) -> None:
        """Output triples must equal the gold set exactly (P = R = 1)."""
        self.check(got == gold,
                   f"{label}: {len(got)} triples vs {len(gold)} gold, "
                   f"{len(got - gold)} extra, {len(gold - got)} missing")

    def end_to_end(self) -> dict[str, float]:
        p50 = statistics.median(self.unit_s)
        return {
            "turns_per_s": sum(self.unit_turns) / sum(self.unit_s),
            "request_p50_s": p50,
            "resume_s": statistics.median(self.resume_s),
        }


@dataclass
class Context:
    spark: object
    work: common.Workdir
    seed: int
    seconds: float
    tracer: spans.Tracer | None


def _post(port: int, payload: dict) -> dict:
    """POST /kg; a failed request returns the service's error payload, so
    it counts as a failed check instead of ending the run."""
    req = urllib.request.Request(
        f"http://127.0.0.1:{port}/kg", data=json.dumps(payload).encode(),
        headers={"Content-Type": "application/json"})
    try:
        with urllib.request.urlopen(req, timeout=170) as resp:
            return json.loads(resp.read())
    except urllib.error.HTTPError as e:  # the service answers 4xx/5xx JSON
        with e:
            return json.loads(e.read() or b"{}")


def layer_ratios(pipe, transcripts) -> dict[str, float]:
    """Row-count ratios of the linking and conflict layers, from one extra
    lazy pipeline run (traced runs only; outside every timed unit)."""
    out = pipe.run(transcripts, resolve=False, cut_lineage="checkpoint")
    n_mentions = out["mentions"].count()
    n_linked = link_entities(
        out["mentions"], pipe.aliases, pipe.nationalities,
        pipe.cfg.entity_linker).count()
    n_candidates = out["candidates"].count()
    # resolve=False: final_entities are the entities the fused triples use,
    # the frame apply_conflict_resolution checks for overlapping mentions
    n_dirty = conflicted_conversations(out["final_entities"]).count()
    n_convs = out["documents"].select(F.col("conv_id")).distinct().count()
    return {
        "linking.candidates_per_mention":
            n_candidates / n_mentions if n_mentions else 0.0,
        "linking.rerank_kept_ratio":
            n_candidates / n_linked if n_linked else 0.0,
        "conflicts.dirty_conv_share": n_dirty / n_convs if n_convs else 0.0,
    }


# ------------------------------------------------------- kg_submit_docs

#: the documents test table's vocabulary (30 words, uniform)
DOC_VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
SUBMIT_DOCS = 2500
SALT_BUCKETS = 16  # scripts/submit_job.py's --salt-buckets default
#: run_checkpointed's stage order; a resume recomputes the stages after
#: RESUME_AFTER and loads the ones up to it
CHECKPOINT_STAGES = (
    "documents", "mentions", "candidates", "entities", "raw_triples",
    "linked_triples", "fused", "triples", "final_entities",
)
RESUME_AFTER = "entities"


def submit_documents(seed: int, n_docs: int = SUBMIT_DOCS):
    """The ``documents`` test table's shape, drawn from ``seed``:
    10 to 100 words per document from the same 30-word vocabulary."""
    rng = random.Random(seed)
    texts = [
        " ".join(rng.choice(DOC_VOCAB) for _ in range(rng.randint(10, 100)))
        for _ in range(n_docs)
    ]
    return pa.table({
        "doc_id": pa.array(range(n_docs), pa.int64()),
        "text": texts,
        "lang": [rng.choice(("en", "de", "es", "fr", "zh"))
                 for _ in range(n_docs)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def docs_modulus(n_docs: int) -> int:
    """The conversation modulus ``_transcripts_view`` uses at this size."""
    return max(50, n_docs // 100)


def oracle_triples(docs_path: Path, n_docs: int) -> set[tuple]:
    """``__spark_entry__``'s ``kg_e2e_triples`` DuckDB oracle, with the
    conversation modulus the view uses at ``n_docs`` (the stored SQL
    hard-codes 50)."""


    mod = docs_modulus(n_docs)
    sql = (
        entry.oracle_sql()["kg_e2e_triples"]
        .replace(entry._CONV, f"CAST(doc_id % {mod} AS VARCHAR)")
        .replace(entry._TURN, f"(doc_id // {mod})")
    )
    con = duckdb.connect()
    try:
        con.execute(
            f"CREATE VIEW documents AS SELECT * FROM read_parquet('{docs_path}')")
        return set(con.execute(sql).fetchall())
    finally:
        con.close()


def expected_mentions(docs) -> int:
    """Gazetteer hits: the surfaces are single words that occur in no other
    vocabulary word, so each occurrence is exactly one mention."""
    surfaces = set(entry.GAZ_SURFACES)
    return sum(
        sum(w in surfaces for w in text.split())
        for text in docs.column("text").to_pylist()
    )


def make_submit_input(work: common.Workdir, seed: int):
    docs = submit_documents(seed)
    path = work / "documents.parquet"
    pq.write_table(docs, path)
    return path, oracle_triples(path, docs.num_rows), expected_mentions(docs)


class _ReadSwitch:
    """SparkSession stand-in: reading back a stage makes the checkpoint
    layer current (the write before it belongs to the stage's own layer,
    whose plan it executes)."""

    def __init__(self, spark, tracer: spans.Tracer):
        self._spark, self._tracer = spark, tracer

    @property
    def read(self):
        self._tracer.switch("checkpoint")
        return self._spark.read

    def __getattr__(self, name):
        return getattr(self._spark, name)


@dataclass
class TracedCheckpoints(CheckpointManager):
    """One parent span per stage; the stage's layer is current while it
    computes and writes, the checkpoint layer while it re-reads."""

    tracer: spans.Tracer | None = None

    def stage(self, name, compute):
        parent = self.tracer.begin(f"stage:{name}")
        self.tracer.switch(spans.STAGE_LAYER[name])
        try:
            return super().stage(name, compute)
        finally:
            self.tracer.end(parent)


def submit_transcripts(spark, docs_path: Path):
    """The submit job's input: documents-as-transcripts, salted."""

    return salted_repartition(
        entry._transcripts_view(spark.read.parquet(str(docs_path))),
        SALT_BUCKETS)


def submit_job(ctx: Context, docs_path: Path, ckpt: Path, graph: Path):
    """One spark-submit job: returns its CheckpointManager."""
    spark, tracer = ctx.spark, ctx.tracer
    if tracer is not None:
        tracer.switch("assembly")  # the view counts the documents
    transcripts = submit_transcripts(spark, docs_path)
    if tracer is None:
        manager = CheckpointManager(spark, str(ckpt), "run-1")
    else:
        manager = TracedCheckpoints(
            _ReadSwitch(spark, tracer), str(ckpt), "run-1", tracer=tracer)
    out = run_checkpointed(entry._kg_pipeline(spark), transcripts, manager)
    if tracer is not None:
        tracer.switch("sinks")
    write_graph(out["triples"], out["final_entities"], str(graph))
    if tracer is not None:
        tracer.close_thread()
    return manager


def _edges(spark, graph: Path) -> list[tuple]:
    """The graph sink's edges as sorted full rows."""
    return sorted(tuple(r) for r in spark.read.parquet(f"{graph}/edges")
                  .select("conv_id", "subj_url", "pred_url", "obj_url",
                          "subj_label", "pred_label", "obj_label", "score")
                  .collect())


def _dir_bytes(path: Path) -> int:
    return sum(f.stat().st_size for f in path.rglob("*") if f.is_file())


def kg_submit_docs(ctx: Context, run: Run, setup_start: float) -> None:
    spark, tracer = ctx.spark, ctx.tracer
    (docs_path, gold, n_mentions), input_s = common.median_of(
        lambda: make_submit_input(ctx.work, ctx.seed))
    run.setup_s = setup_start + input_s
    recompute = CHECKPOINT_STAGES[CHECKPOINT_STAGES.index(RESUME_AFTER) + 1:]
    loaded = CHECKPOINT_STAGES[:len(CHECKPOINT_STAGES) - len(recompute)]

    # one fresh job and its resume per run, whatever --seconds says: the
    # fresh job is timed cold, as every spark-submit job starts a new JVM,
    # and a second one in this JVM would be a warm job, another quantity
    if tracer is not None:
        tracer.unit = "submit"
        run.traced_units.add("submit")
    ckpt, graph = ctx.work / "checkpoints", ctx.work / "graph"
    manager, fresh_s = common.timed(submit_job, ctx, docs_path, ckpt, graph)
    fresh = _edges(spark, graph)
    run.check_triples("fresh", {r[:4] for r in fresh}, gold)
    got_mentions = manager.manifest("mentions")["rows_out"]
    run.check(got_mentions == n_mentions,
              f"fresh: {got_mentions} mentions, expected {n_mentions}")
    run.unit_s.append(fresh_s)
    run.unit_turns.append(SUBMIT_DOCS)
    run.extra["checkpoint.manifest_wall_s"] = sum(
        manager.manifest(s)["wall_ms"] for s in CHECKPOINT_STAGES) / 1000
    run.extra["checkpoint.write_bytes"] = _dir_bytes(ckpt)

    for stage in recompute:
        os.remove(ckpt / "run-1" / stage / "manifest.json")
    manager, resume_s = common.timed(submit_job, ctx, docs_path, ckpt, graph)
    same = _edges(spark, graph) == fresh
    run.check(
        manager.stages_resumed == list(loaded)
        and manager.stages_run == list(recompute) and same,
        f"resume: loaded {manager.stages_resumed}, ran "
        f"{manager.stages_run}, output equal to fresh: {same}")
    run.resume_s.append(resume_s)
    run.traced_wall_s = fresh_s + resume_s

    if tracer is not None:
        tracer.unit = "aux"
        run.extra.update(layer_ratios(
            entry._kg_pipeline(spark), submit_transcripts(spark, docs_path)))


# -------------------------------------------------------------- kg_serve

KB_ENTITIES = 200
REQUEST_SENTENCES = 16
TRACE_REQUESTS = 1


def serve_requests(seed: int, kb):
    """Endless seeded request mix: (conv_id, text, n_sentences, gold).

    The seed draws each conversation's facts; every conversation has
    REQUEST_SENTENCES of them. With one or two timed requests per run, a
    seed-drawn length would make ``turns_per_s`` a property of the seed
    rather than of the program (request latency is nearly independent of
    length in this regime)."""
    rng = random.Random(seed)
    i = 0
    while True:
        facts = [kb.facts[rng.randrange(kb.n_facts)]
                 for _ in range(REQUEST_SENTENCES)]
        text = " ".join(f"{s} {p} {o}." for _, s, p, o, _, _, _ in facts)
        gold = {(su, pu, ou) for _, _, _, _, su, pu, ou in facts}
        yield f"req-{seed}-{i}", text, len(facts), gold
        i += 1


class TracedService(KGService):
    """Records the time spent inside ``construct``; the serve layer is the
    request's HTTP time minus it."""

    def __init__(self, spark, pipeline, tracer: spans.Tracer):
        super().__init__(spark, pipeline)
        self.tracer = tracer
        self.construct_s = 0.0

    def construct(self, text, conv_id="request"):
        t0 = time.perf_counter()
        try:
            return super().construct(text, conv_id)
        finally:
            self.tracer.close_thread()
            self.construct_s = time.perf_counter() - t0


def kg_serve(ctx: Context, run: Run, setup_start: float) -> None:
    spark, tracer = ctx.spark, ctx.tracer

    def make_input():
        kb = synth.build_kb(KB_ENTITIES)
        pipe = KGPipeline(
            aliases=synth.aliases_df(spark, kb),
            properties=synth.properties_df(spark),
            gazetteer=synth.gazetteer(kb), rules=synth.rules_df(spark, kb),
            use_scorers=False, use_rerank=True)
        return pipe, serve_requests(ctx.seed, kb)

    (pipe, requests), input_s = common.median_of(make_input)

    def new_service():
        if tracer is None:
            return KGService(spark, pipe)
        return TracedService(spark, pipe, tracer)

    service = new_service()
    server = start_server(service)
    traced_sent: list[tuple] = []

    def request(label: str) -> tuple[float, int]:
        conv_id, text, n_sentences, gold = next(requests)
        if tracer is not None:
            tracer.unit = label
        resp, seconds = common.timed(
            _post, server.server_address[1],
            {"text": text, "conv_id": conv_id})
        got = {(t["subject"]["url"], t["predicate"]["url"], t["object"]["url"])
               for t in resp.get("triples", [])}
        run.check_triples(
            f"{label} {conv_id}"
            + (f" (error {resp['error']})" if "error" in resp else ""),
            got, gold)
        if tracer is not None and label != "warmup":
            run.traced_units.add(label)
            run.traced_wall_s += seconds
            traced_sent.append((conv_id, text))
            tracer.add("serve", seconds - service.construct_s)
        return seconds, n_sentences

    try:
        warm_s, _ = request("warmup")
        run.setup_s = setup_start + input_s + warm_s

        # simulated interruption: the service restarts in the same session,
        # and the first timed request is its first answer after the restart
        t_restart = time.perf_counter()
        server.shutdown()
        server.server_close()
        service = new_service()
        server = start_server(service)
        restart_s = time.perf_counter() - t_restart

        t0 = time.perf_counter()
        while not run.unit_s or (
                time.perf_counter() - t0 < ctx.seconds if tracer is None
                else len(run.unit_s) < TRACE_REQUESTS):
            seconds, n_sentences = request(f"req-{len(run.unit_s)}")
            run.unit_s.append(seconds)
            run.unit_turns.append(n_sentences)
        run.resume_s.append(restart_s + run.unit_s[0])
    finally:
        server.shutdown()
        server.server_close()

    if tracer is not None:
        tracer.unit = "aux"
        transcripts = spark.createDataFrame(
            [(conv_id, 0, "user", text, None, None)
             for conv_id, text in traced_sent], schemas.TRANSCRIPTS)
        run.extra.update(layer_ratios(pipe, transcripts))


WORKLOADS = {"kg_submit_docs": kg_submit_docs, "kg_serve": kg_serve}
