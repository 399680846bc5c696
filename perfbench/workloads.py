"""The two workloads.  Each takes a Harness, sets up its inputs,
runs its operations in a closed loop, queues its gates (the harness
runs them untimed after the measurement), and returns the operation
kinds its end-to-end ``op_s`` summarises."""

from __future__ import annotations

import functools
import random
import shutil
import statistics
import time
from functools import partial

import pandas as pd

from . import gates, inputs
from .harness import Harness


def _scale(h: Harness, full, smoke):
    return smoke if h.smoke else full


def _read_transcripts(h: Harness, t: inputs.Transcripts, name: str):
    """Write the raw/tagged tables as parquet (UTC timestamps) and
    return them as Spark DataFrames read back from disk."""
    out = []
    for side, frame in (("raw", t.raw), ("tagged", t.tagged)):
        frame = frame.assign(ts=frame["ts"].dt.tz_localize("UTC"))
        path = h.path("inputs", name, f"{side}.parquet")
        frame.to_parquet(path, index=False, coerce_timestamps="us")
        out.append(h.spark.read.parquet(path))
    return out


def _artifacts(corpus):
    from coies_spark.core.oneshot import ExtractionConfig, build_example_artifacts
    from coies_spark.data import synth

    return build_example_artifacts(
        corpus.example.tagged_text, synth.corpus_sentences(corpus),
        ExtractionConfig(**inputs.CONFIG_KW),
    )


def _dictionary(h: Harness):
    """The kg_linked dictionary: one entity id per pool surface."""
    from coies_spark.data import synth
    from coies_spark.pipeline.linking import build_dictionary

    return build_dictionary(
        h.spark,
        [(m, f"E{c}") for c, m in enumerate(synth.COMP_POOL)]
        + [(m, f"I{c}") for c, m in enumerate(synth.ITEM_POOL)],
    )


def _pipeline(h: Harness, raw, tagged, art, dictionary, work_dir):
    from coies_spark.pipeline.triples import run_pipeline

    return run_pipeline(h.spark, raw, art, work_dir, dictionary=dictionary,
                        tagged_transcripts=tagged, with_beliefs=True)


def _rows(df) -> list[tuple]:
    return [tuple(r) for r in df.collect()]


def _fold(h: Harness, raw, tagged, art, dictionary, work_dir, store_dir):
    """One delta fold: the batch through its own pipeline run, then its
    evidence upserted into the belief store of ``store_dir``."""
    from coies_spark.pipeline.triples import upsert_beliefs

    runner = _pipeline(h, raw, tagged, art, dictionary, work_dir)
    with h.tracer.span("triples.upsert"):
        upsert_beliefs(h.spark, store_dir, runner.results["s6_evidence"].df)
    return runner


def _read_rows(h: Harness, path: str) -> list[tuple]:
    return _rows(h.spark.read.parquet(path))


def _fold_matches(h: Harness, store_dir: str, evidence_dirs: list[str]):
    """The folded s7/s8 stores equal ``triple_confidence`` /
    ``temporal_triples`` recomputed over all their evidence."""
    from coies_spark.ops.kg import temporal_triples, triple_confidence

    spark = h.spark
    evidence = spark.read.parquet(*evidence_dirs)
    want_b = triple_confidence(evidence).toPandas()
    got_b = spark.read.parquet(f"{store_dir}/s7_beliefs/data")
    ok, why = gates.beliefs_match(got_b.select(*want_b.columns).toPandas(),
                                  want_b)
    if not ok:
        return ok, why
    want_t = temporal_triples(evidence).toPandas()
    got_t = spark.read.parquet(f"{store_dir}/s8_temporal/data")
    return gates.temporal_match(got_t.select(*want_t.columns).toPandas(),
                                want_t)


# --- flagship_build ----------------------------------------------------------

def flagship_build(h: Harness) -> list[str]:
    """Rounds of (build, fold): a fresh s1→s9 build over the seeded
    corpus, then a 100-conversation delta batch folded into that
    build's belief store.  After the last round, the last build's work
    dir is resumed.  Every round's work dir stays on disk until the
    gates have read it."""
    n_docs, replicas, batch_convs = _scale(h, (500, 2, 100), (40, 2, 20))
    t = h.phase("synth.inputs_s",
                lambda: inputs.transcripts(h.seed, n_docs, replicas))
    raw, tagged = h.phase("synth.inputs_s",
                          lambda: _read_transcripts(h, t, "flagship"))
    art = h.phase("oneshot.artifacts_s", lambda: _artifacts(t.corpus))
    dictionary = _dictionary(h)

    # untimed warm-up build on a tiny corpus, so JVM code paths, Python
    # workers and broadcasts are warm before timing
    w = inputs.transcripts(h.seed + 10_000, n_docs=24, replicas=1)
    _pipeline(h, *_read_transcripts(h, w, "warmup"), art, dictionary,
              h.scratch_dir("work", "warmup"))

    @functools.cache
    def expected_mentions():
        """s2 rows from a driver-side replay of the distinct base docs,
        fanned out to the replicas; also times ``detect_doc``."""
        t0 = time.perf_counter()
        replay = {doc.conv_id: gates.replay_doc(doc, art)
                  for doc in t.corpus.all_docs}
        h.figures["oneshot.detect_doc_ms"] = (
            1000.0 * (time.perf_counter() - t0) / len(replay))
        return gates.expected_mentions(replay, replicas)

    def s2_matches(work_dir):
        return gates.multiset_match(
            _read_rows(h, f"{work_dir}/s2_mentions/data"),
            expected_mentions(), "s2 mentions vs detect_doc replay")

    builds, rounds, work_dir = [], 0, None
    with h.tracer.wrap_library():
        while h.measuring(rounds, min_rounds=2):
            work_dir = h.scratch_dir("work", f"build{rounds}")
            op, runner = h.timed("build", lambda: _pipeline(
                h, raw, tagged, art, dictionary, work_dir))
            builds.append(op)
            if runner is None:
                break
            h.gate([op], partial(s2_matches, work_dir))
            res = runner.results
            h.figures.update({
                "extract.docs": res["s1_docs"].manifest["rows"],
                "extract.mentions": res["s2_mentions"].manifest["rows"],
                "triples.rows": res["s5_triples"].manifest["rows"],
                "kg.beliefs_rows": res["s7_beliefs"].manifest["rows"],
            })
            batch = _read_transcripts(
                h, inputs.delta_batch(h.seed, rounds, batch_convs),
                f"batch{rounds}")
            batch_dir = h.scratch_dir("work", f"batch{rounds}")
            op, folded = h.timed("fold", lambda: _fold(
                h, *batch, art, dictionary, batch_dir, work_dir))
            if folded is not None:
                h.gate([op], partial(_fold_matches, h, work_dir, [
                    f"{work_dir}/s6_evidence/data",
                    f"{batch_dir}/s6_evidence/data",
                ]))
            rounds += 1
        # a file copy of the fresh s5, for the resume gate
        fresh_s5 = h.path("outputs", "fresh_s5")
        if runner is not None:
            shutil.copytree(f"{work_dir}/s5_triples/data", fresh_s5)
        resume, resumed = h.timed("resume", lambda: _pipeline(
            h, raw, tagged, art, dictionary, work_dir))

    h.figures["turns_per_s"] = t.turns / statistics.median(o.wall for o in builds)
    h.log(f"flagship: {t.turns} turns, {t.convs} conversations")

    sample = random.Random(h.seed).sample(t.corpus.all_docs, _scale(h, 6, 3))
    h.gate(builds[:1], lambda: gates.oracle_sample_match(sample, art))
    if resumed is not None:
        h.gate([resume], lambda: (
            all(r.skipped for r in resumed.results.values()),
            "resume recomputed a finished stage",
        ))
        h.gate([resume], lambda: gates.multiset_match(
            _read_rows(h, f"{work_dir}/s5_triples/data"),
            _read_rows(h, fresh_s5), "resumed s5 vs fresh s5"))
    return ["build", "fold"]


# --- kg_operators ------------------------------------------------------------

# op kind -> (registry query, or alias graph as (shape, size); the
# per-layer metric of the kind's median wall time)
KG_OPS = {
    "kg_align": ("kg_align", "kg_align_s"),
    "kge_train": ("transe_train", "kge_train_s"),
    "canonicalize_hub": (("hub", 10_000), "canonicalize_hub_s"),
    "canonicalize_chain": (("chain", 16), "canonicalize_chain_s"),
    "canonicalize_chain64": (("chain", 64), "canonicalize.chain64_s"),
}
# canonicalize's label propagation stops at max_iter=20, so a 64-hop
# chain raises this today (ROADMAP direction 3); traced runs only
KNOWN_DEFECT = ("canonicalize_chain64", "no convergence in 20 iters")
LINKED_SCHEMA = "conv_id string, pred string, obj string, entity_id string"

# op kind -> per-layer metric of its median wall time, on every workload
KIND_METRICS = {
    "resume": "resume_s",
    "fold": "fold_s",
    **{kind: metric for kind, (_, metric) in KG_OPS.items()},
}


def kg_operators(h: Harness) -> list[str]:
    import __spark_entry__ as entry
    from coies_spark.pipeline.canonicalize import canonicalize

    n_part, hub_leaves = _scale(h, (2000, 10_000), (200, 200))
    sf_dir = h.path("inputs", "sf0.01", "")
    h.phase("synth.inputs_s", lambda: inputs.write_tables({
        "part": inputs.part_table(h.seed, n_part),
    }, sf_dir))
    graphs = {}
    for kind, (what, _) in KG_OPS.items():
        if isinstance(what, str):
            continue
        shape, size = what
        if shape == "hub":
            ids, edges = inputs.hub_graph(h.seed, hub_leaves)
        else:
            ids, edges = inputs.chain_graph(h.seed, size)
        graphs[kind] = (
            ids, edges,
            h.spark.createDataFrame(inputs.linked_rows(ids), LINKED_SCHEMA),
            h.spark.createDataFrame(edges, "src string, dst string"),
        )
    queries = entry.queries()
    # no warm-up: each run is a fresh driver running every operator once,
    # as a batch job does, so the first operators also pay JIT warm-up

    def run(kind):
        what = KG_OPS[kind][0]
        if isinstance(what, str):
            return queries[what](h.spark, sf_dir).toPandas()
        _, _, linked, alias = graphs[kind]
        return canonicalize(linked, alias).select(
            "entity_id", "canonical_id").toPandas()

    @functools.cache
    def oracle():
        return gates.OracleCheck(h.root, sf_dir, ["part"])

    def matches(kind, path):
        got = pd.read_pickle(path)
        what = KG_OPS[kind][0]
        if isinstance(what, str):
            return oracle().match(what, got)
        ids, edges, _, _ = graphs[kind]
        return gates.canonical_match(
            list(got.itertuples(index=False, name=None)), ids, edges)

    rounds = 0
    with h.tracer.wrap_library():
        while h.measuring(rounds, min_rounds=1):
            for kind in KG_OPS:
                if kind == KNOWN_DEFECT[0] and not h.trace:
                    continue
                op, got = h.timed(kind, partial(run, kind))
                if (kind == KNOWN_DEFECT[0]
                        and KNOWN_DEFECT[1] in (op.error or "")):
                    op.known_defect = True
                if got is not None:
                    h.gate([op], partial(matches, kind,
                                         h.keep(f"{kind}-{rounds}", got)))
                    del got
            rounds += 1
    return [kind for kind in KG_OPS if kind != KNOWN_DEFECT[0]]


WORKLOADS = {
    "flagship_build": flagship_build,
    "kg_operators": kg_operators,
}
