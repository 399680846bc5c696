"""Resumable stage orchestration with snapshot manifests + lineage.

Each pipeline stage materializes to ``<base>/<stage>/data`` (parquet)
with a ``_MANIFEST.json`` recording: stage name, the stage fingerprint,
row count, per-partition-column row counts, the snapshot schema, wall
time, and the upstream stages it consumed.  The stage fingerprint
chains the run fingerprint the caller passes (config, plus whatever
input identity the caller adds — ``run_pipeline`` adds the files of its
input tables, see :func:`input_identity`) with the fingerprint of every
upstream stage, so a change anywhere upstream invalidates everything
downstream.  On re-run, a stage whose manifest matches the current
fingerprint is *skipped* and its snapshot is read back with the
recorded schema — so a killed pipeline resumes mid-run (north_rule:
"resumable from checkpoint with per-partition lineage + metrics").

A commit (:func:`commit_snapshot`) costs only its write: the snapshot
is read back with the schema the frame already has (no inference job),
and ``rows`` / ``partition_rows`` are summed from the committed files'
parquet footers on the driver (no count or groupBy job).  Its order
makes a kill at any point safe: the data is written to a sibling temp
dir, and only once that write has succeeded is the stale manifest
removed and the temp dir swapped in; the new manifest is written last
through a temp file.  So a manifest on disk always describes the data
beside it: a failed or killed write leaves the old snapshot and its
manifest in place (a folded ``upsert_beliefs`` store keeps its
batches), and a kill in the short window between the swap and the new
manifest leaves a cache miss.  A missing, truncated or unparseable
manifest is a cache miss.

On an Iceberg deployment this maps 1:1 to
``df.writeTo(table).createOrReplace()`` + snapshot ids in place of
directory manifests; the orchestration logic is storage-agnostic, and
parquet + JSON keeps the sandbox dependency-free (no Iceberg runtime
jar is shipped with this container).
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import time
from dataclasses import dataclass, field
from typing import Callable, Optional, Sequence
from urllib.parse import unquote, urlparse

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

MANIFEST = "_MANIFEST.json"
# the directory value Spark writes for a null (or empty) partition value
_HIVE_NULL = "__HIVE_DEFAULT_PARTITION__"


def _fingerprint_str(obj) -> str:
    return json.dumps(obj, sort_keys=True, default=str)


def input_identity(df: Optional[DataFrame]) -> Optional[list]:
    """``[uri, size, mtime_ns]`` of each file ``df`` reads, for a run
    fingerprint: rewriting or swapping an input table changes it.
    Frames built in memory read no files, so their contents are not
    covered (``[]``); nor is a filter, projection or join over the
    same files (two ``where`` views of one table get the same
    identity).  A file off the local filesystem is identified by its
    uri alone."""
    if df is None:
        return None
    out = []
    for uri in sorted(df.inputFiles()):
        parsed = urlparse(uri)
        try:
            st = (os.stat(unquote(parsed.path))
                  if parsed.scheme in ("", "file") else None)
        except OSError:
            st = None
        out.append([uri, st.st_size, st.st_mtime_ns] if st else [uri])
    return out


def read_manifest(stage_dir: str) -> Optional[dict]:
    """The stage's manifest; None when it is missing, truncated or not
    valid JSON — a cache miss, never a crash."""
    try:
        with open(os.path.join(stage_dir, MANIFEST)) as f:
            manifest = json.load(f)
    except (OSError, ValueError):
        return None
    return manifest if isinstance(manifest, dict) else None


def read_snapshot(
    spark: SparkSession, stage_dir: str, manifest: Optional[dict] = None
) -> DataFrame:
    """The stage's committed snapshot, read with the manifest's schema
    (no inference job, and a zero-row snapshot reads as an empty
    frame); a manifest without one infers the schema."""
    reader = spark.read
    if manifest and manifest.get("schema"):
        reader = reader.schema(StructType.fromJson(manifest["schema"]))
    return reader.parquet(os.path.join(stage_dir, "data"))


def _hidden(name: str) -> bool:
    # Spark's rule: _* and .* are not data, except partition dirs (_c=v)
    return name.startswith(".") or (name.startswith("_") and "=" not in name)


def _partition_value(dir_name: str) -> str:
    """``col=value`` directory name -> the value as ``str()`` of what
    Spark reads back (a null reads as None)."""
    value = unquote(dir_name.split("=", 1)[1])
    return "None" if value == _HIVE_NULL else value


def _footer_counts(
    data_path: str, partition_by: Optional[Sequence[str]] = None
) -> tuple[int, dict[str, int]]:
    """(rows, partition_rows) of a committed parquet snapshot, summed
    from its file footers on the driver — no Spark job.  Partition keys
    join the decoded ``col=value`` directory values with ``/``."""
    rows, lineage = 0, {}
    for root, dirs, files in os.walk(data_path):
        dirs[:] = [d for d in dirs if not _hidden(d)]
        for name in files:
            if _hidden(name):
                continue
            n = pq.read_metadata(os.path.join(root, name)).num_rows
            rows += n
            if partition_by and n:
                rel = os.path.relpath(root, data_path).split(os.sep)
                key = "/".join(_partition_value(d) for d in rel)
                lineage[key] = lineage.get(key, 0) + n
    return rows, dict(sorted(lineage.items()))


def commit_snapshot(
    spark: SparkSession,
    df: DataFrame,
    stage_dir: str,
    partition_by: Optional[Sequence[str]] = None,
    manifest: Optional[dict] = None,
    started: Optional[float] = None,
) -> tuple[DataFrame, Optional[dict]]:
    """Write ``df`` as the stage's snapshot and return it read back,
    with the manifest as committed.

    Order: write to the sibling ``data.tmp`` and count its footers;
    only then remove the stale manifest and swap ``data.tmp`` in as
    ``data``; then, when ``manifest`` is given, complete it with
    ``rows``, ``partition_rows`` and ``schema`` (plus ``wall_sec``
    since ``started`` and ``written_at`` when ``started`` is given) and
    write it through a temp file.  A write that fails leaves the old
    data and its manifest in place, so the old snapshot still resumes;
    only a kill between the swap and the new manifest leaves a cache
    miss.  The write is the only Spark job."""
    data_path = os.path.join(stage_dir, "data")
    manifest_path = os.path.join(stage_dir, MANIFEST)
    tmp = data_path + ".tmp"
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(tmp)
    rows, lineage = _footer_counts(tmp, partition_by)
    with contextlib.suppress(FileNotFoundError):
        os.remove(manifest_path)
    shutil.rmtree(data_path, ignore_errors=True)
    os.replace(tmp, data_path)
    out = spark.read.schema(df.schema).parquet(data_path)
    if manifest is None:
        return out, None
    manifest = {
        **manifest,
        "rows": rows,
        "partition_rows": lineage,
        "schema": out.schema.jsonValue(),
    }
    if started is not None:
        manifest["wall_sec"] = round(time.time() - started, 3)
        manifest["written_at"] = time.strftime(
            "%Y-%m-%dT%H:%M:%SZ", time.gmtime()
        )
    with open(manifest_path + ".tmp", "w") as f:
        json.dump(manifest, f, indent=2)
    os.replace(manifest_path + ".tmp", manifest_path)
    return out, manifest


@dataclass
class StageResult:
    name: str
    df: DataFrame
    skipped: bool
    manifest: dict


@dataclass
class StageRunner:
    spark: SparkSession
    base_dir: str
    fingerprint: dict
    results: dict[str, StageResult] = field(default_factory=dict)

    def stage(
        self,
        name: str,
        build: Callable[[], DataFrame],
        partition_by: Optional[Sequence[str]] = None,
        repartition: Optional[int] = None,
    ) -> DataFrame:
        """Run or resume one stage; returns the materialized DataFrame."""
        stage_dir = os.path.join(self.base_dir, name)
        upstream = sorted(self.results)
        fp = _fingerprint_str({
            "stage": name,
            "run": self.fingerprint,
            "upstream": {
                u: self.results[u].manifest["fingerprint"] for u in upstream
            },
        })
        manifest = read_manifest(stage_dir)
        if manifest is not None and manifest.get("fingerprint") == fp:
            df = read_snapshot(self.spark, stage_dir, manifest)
            self.results[name] = StageResult(name, df, True, manifest)
            return df

        t0 = time.time()
        df = build()
        if repartition:
            df = df.repartition(repartition)
        out, manifest = commit_snapshot(
            self.spark, df, stage_dir, partition_by,
            {"stage": name, "fingerprint": fp, "upstream": upstream},
            started=t0,
        )
        self.results[name] = StageResult(name, out, False, manifest)
        return out

    def metrics(self) -> DataFrame:
        """One row per executed stage (the ``metrics`` table)."""
        rows = [
            (
                r.name,
                r.manifest["rows"],
                r.skipped,
                float(r.manifest.get("wall_sec", 0.0)),
                json.dumps(r.manifest.get("partition_rows", {})),
            )
            for r in self.results.values()
        ]
        return self.spark.createDataFrame(
            rows,
            "stage string, rows long, resumed boolean, wall_sec double, "
            "partition_rows string",
        )
