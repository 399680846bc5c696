"""Seeded input generators: every table the benchmark hands the program
is made here from ``--seed``, so the same seed gives the same inputs."""

from __future__ import annotations

import datetime as dt
import os
from dataclasses import dataclass

import numpy as np
import pandas as pd

from coies_spark.data import synth

# Fixture-scale extraction profile (the synth turns are 8-40 tokens).
CONFIG_KW = dict(
    context_size=10, dim=64, context_threshold=0.7,
    phrase_min_count=4, phrase_threshold=1.0,
)


def derive_seed(seed: int, *salt: int) -> int:
    """Independent 31-bit seed for one input stream of a run."""
    return int(np.random.SeedSequence([seed, *salt]).generate_state(1)[0]
               & 0x7FFFFFFF)


@dataclass
class Transcripts:
    corpus: synth.SynthCorpus
    raw: pd.DataFrame
    tagged: pd.DataFrame
    replicas: int

    @property
    def turns(self) -> int:
        return len(self.raw)

    @property
    def convs(self) -> int:
        return self.raw["conv_id"].nunique()


def replica_id(conv_id: str, replica: int) -> str:
    return f"{conv_id}-r{replica}"


def _replicate(frame: pd.DataFrame, replicas: int) -> pd.DataFrame:
    parts = []
    for r in range(replicas):
        part = frame.copy()
        part["conv_id"] = [replica_id(c, r) for c in part["conv_id"]]
        parts.append(part)
    return pd.concat(parts, ignore_index=True)


def transcripts(seed: int, n_docs: int, replicas: int) -> Transcripts:
    """The flagship corpus: ``n_docs`` synth conversations (plus the
    one-shot example), each replicated under ``replicas`` distinct
    conv_ids, as raw and tagged-twin transcript tables."""
    corpus = synth.make_corpus(
        n_test=n_docs // 2, n_plain=n_docs - n_docs // 2,
        seed=derive_seed(seed, 1),
    )
    raw = _replicate(synth.transcripts_frame(corpus.all_docs, use_raw=True),
                     replicas)
    tagged = _replicate(
        synth.transcripts_frame(corpus.all_docs, use_raw=False), replicas
    )
    return Transcripts(corpus, raw, tagged, replicas)


def delta_batch(seed: int, index: int, n_convs: int) -> Transcripts:
    """One incremental batch: fresh conversations with conv_ids disjoint
    from the base corpus and every earlier batch, timestamped after
    them (the append-only shape the belief fold assumes)."""
    corpus = synth.make_corpus(
        n_test=n_convs // 2, n_plain=n_convs - n_convs // 2,
        seed=derive_seed(seed, 2, index),
    )
    docs = corpus.test_docs + corpus.plain_docs
    for doc in docs:
        doc.conv_id = f"batch{index:03d}-{doc.conv_id}"
    base_ts = (dt.datetime(2026, 2, 1) + dt.timedelta(days=index)).isoformat()
    return Transcripts(
        corpus,
        synth.transcripts_frame(docs, use_raw=True, base_ts=base_ts),
        synth.transcripts_frame(docs, use_raw=False, base_ts=base_ts),
        1,
    )


_NAME_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_NAME_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod",
              "widget"]
_TYPES = ["ECONOMY", "SMALL", "MEDIUM", "PROMO", "STANDARD", "LARGE"]


def part_table(seed: int, n: int) -> pd.DataFrame:
    """Part catalog in the shape of the repository's sf0.01 and sf0.1
    ``part`` tables: two-word names over 8 × 8 words (64 distinct, so
    each name covers about n/64 parts), 25 brands, 6 types, sizes 1-50
    and 1000 retail prices."""
    rng = np.random.default_rng(derive_seed(seed, 3))
    key = np.arange(n, dtype=np.int64)
    return pd.DataFrame({
        "p_partkey": key,
        "p_name": [
            f"{_NAME_ADJ[a]} {_NAME_NOUN[b]}"
            for a, b in zip(rng.integers(0, 8, n), rng.integers(0, 8, n))
        ],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n)],
        "p_type": [_TYPES[t] for t in rng.integers(0, len(_TYPES), n)],
        "p_size": rng.integers(1, 51, n).astype(np.int32),
        "p_retailprice": np.round(900.0 + (key % 1000) * 0.1, 1),
    })


def write_tables(tables: dict[str, pd.DataFrame], sf_dir: str) -> None:
    """One ``<name>.parquet`` file per table, as the registry reads them."""
    os.makedirs(sf_dir, exist_ok=True)
    for name, frame in tables.items():
        frame.to_parquet(os.path.join(sf_dir, f"{name}.parquet"), index=False)


def _ids(seed: int, n: int, salt: int) -> list[str]:
    """``n`` distinct seeded entity ids, sorted ascending."""
    rng = np.random.default_rng(derive_seed(seed, 5, salt))
    vals = rng.choice(10 ** 9, size=n, replace=False)
    return sorted(f"E{v:09d}" for v in vals)


def hub_graph(seed: int, leaves: int) -> tuple[list[str], list[tuple[str, str]]]:
    """One centre aliased to ``leaves`` leaves; the centre holds the
    minimum id, so every leaf relabels in one round."""
    ids = _ids(seed, leaves + 1, 1)
    return ids, [(ids[0], leaf) for leaf in ids[1:]]


def chain_graph(seed: int, hops: int) -> tuple[list[str], list[tuple[str, str]]]:
    """A path of ``hops`` alias edges over ascending ids: the minimum id
    sits at one end, so min-label propagation needs ``hops`` rounds on
    every seed (the worst case, kept constant across seeds)."""
    ids = _ids(seed, hops + 1, 2 + hops)
    return ids, [(ids[i], ids[i + 1]) for i in range(hops)]


def linked_rows(ids: list[str]) -> list[tuple[str, str, str, str]]:
    """(conv_id, pred, obj, entity_id): one linked mention per entity."""
    return [(f"conv-{i}", "comp", f"surface {i}", e)
            for i, e in enumerate(ids)]
