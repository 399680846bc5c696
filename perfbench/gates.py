"""Correctness gates.  Each returns ``(ok, why)``; the caller marks the
operation failed on a mismatch and never drops it.  None of this runs
inside a timed region."""

from __future__ import annotations

import importlib.util
import os
from collections import Counter
from typing import Iterable, Sequence

import pandas as pd

from coies_spark.core.oneshot import (
    detect_doc,
    emissions_to_triples,
    oracle_extract_doc,
)

from .inputs import replica_id

Result = tuple[bool, str]


def multiset_match(got: Iterable, want: Iterable, what: str) -> Result:
    """The same rows, each as often, in any order."""
    g, w = Counter(got), Counter(want)
    if g == w:
        return True, ""
    missing, extra = w - g, g - w
    sample = next(iter(missing or extra))
    return False, (
        f"{what}: {sum(missing.values())} missing, {sum(extra.values())} "
        f"extra (e.g. {sample!r})"
    )


# --- flagship: s2 mentions -------------------------------------------------

def replay_doc(doc, artifacts) -> list[tuple[str, str, float, str]]:
    """(pred, obj, score, seed) emissions of one synth doc, detected on
    the driver exactly as the s1 assembly hands it to the kernel."""
    return [
        (e.pred, " ".join(e.gram), float(e.score), " ".join(e.seed_tokens))
        for e in detect_doc(doc.raw_text, doc.tagged_text, artifacts)
    ]


def expected_mentions(
    replay: dict[str, list], replicas: int
) -> list[tuple[str, str, str, float, str]]:
    """Replayed emissions fanned out to every replica conv_id."""
    return [
        (replica_id(conv_id, r), *row)
        for conv_id, rows in replay.items()
        for r in range(replicas)
        for row in rows
    ]


def oracle_sample_match(docs, artifacts) -> Result:
    """The kernel's triples equal the reference-faithful oracle's on a
    sample of docs (scores agree only to ~1e-7, so compare triples)."""
    for doc in docs:
        kern = emissions_to_triples(
            doc.conv_id, detect_doc(doc.raw_text, doc.tagged_text, artifacts)
        )
        ref = emissions_to_triples(
            doc.conv_id,
            oracle_extract_doc(doc.raw_text, doc.tagged_text, artifacts),
        )
        ok, why = multiset_match(kern, ref, f"kernel vs oracle on {doc.conv_id}")
        if not ok:
            return ok, why
    return True, ""


# --- delta fold: beliefs and temporal stores -----------------------------

def beliefs_match(
    got: pd.DataFrame, want: pd.DataFrame, tol: float = 1e-6
) -> Result:
    """Folded s7 store vs ``triple_confidence`` over all evidence: the
    same triples with exact counts and timestamps, confidence within
    ``tol``."""
    key = ["subj", "pred", "obj"]
    exact = ["n_evidence", "first_ts", "last_ts"]
    if len(got) != len(want):
        return False, f"beliefs rows {len(got)} vs {len(want)}"
    m = got.merge(want, on=key, how="outer", suffixes=("_g", "_w"),
                  indicator=True)
    if (m["_merge"] != "both").any():
        return False, f"beliefs keys differ: {m[m['_merge'] != 'both'].iloc[0][key].tolist()}"
    for c in exact:
        bad = m[m[f"{c}_g"] != m[f"{c}_w"]]
        if len(bad):
            return False, f"beliefs {c} differs on {bad.iloc[0][key].tolist()}"
    drift = (m["confidence_g"] - m["confidence_w"]).abs()
    if not (drift <= tol).all():
        return False, f"beliefs confidence drift {drift.max():.3g} > {tol}"
    return True, ""


def temporal_match(got: pd.DataFrame, want: pd.DataFrame) -> Result:
    """Folded s8 store vs ``temporal_triples`` over all evidence."""
    cols = sorted(want.columns)
    if sorted(got.columns) != cols:
        return False, f"temporal columns {sorted(got.columns)} vs {cols}"

    def rows(df):
        return [tuple(None if pd.isna(v) else v for v in r)
                for r in df[cols].itertuples(index=False)]

    return multiset_match(rows(got), rows(want), "s8 temporal vs recompute")


# --- registry operators ------------------------------------------------------

def _check_oracle_module(root: str):
    """``scripts/check_oracle.py``: the comparison the correctness
    harness applies to every registry query."""
    spec = importlib.util.spec_from_file_location(
        "check_oracle", os.path.join(root, "scripts", "check_oracle.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


class OracleCheck:
    """Registry query result vs its ``oracle_sql()`` DuckDB result over
    the same generated parquet tables."""

    def __init__(self, root: str, sf_dir: str, tables: Sequence[str]):
        import __spark_entry__ as entry

        self._cmp = _check_oracle_module(root)
        self._sql = entry.oracle_sql()
        self._views = [
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"'{os.path.join(sf_dir, t)}.parquet'"
            for t in tables
        ]

    def oracle(self, query: str) -> pd.DataFrame:
        import duckdb

        with duckdb.connect() as con:
            for view in self._views:
                con.execute(view)
            return con.execute(self._sql[query]).df()

    def match(self, query: str, got: pd.DataFrame,
              want: pd.DataFrame | None = None) -> Result:
        if want is None:
            want = self.oracle(query)
        return self._cmp.values_match(
            self._cmp.normalize(got), self._cmp.normalize(want)
        )


# --- canonicalize --------------------------------------------------------

def union_find_components(
    nodes: Iterable[str], edges: Iterable[tuple[str, str]]
) -> dict[str, str]:
    """node → minimum node id of its undirected component."""
    parent: dict[str, str] = {n: n for n in nodes}

    def find(x: str) -> str:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    return {n: find(n) for n in parent}


def canonical_match(
    got: Sequence[tuple[str, str]], ids: Sequence[str],
    edges: Sequence[tuple[str, str]],
) -> Result:
    """(entity_id, canonical_id) rows vs a pure-Python union-find."""
    comp = union_find_components(ids, edges)
    return multiset_match(got, [(e, comp[e]) for e in ids],
                          "canonical ids vs union-find")
