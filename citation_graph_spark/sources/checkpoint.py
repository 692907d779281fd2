"""Checkpointed, resumable iteration state.

The reference snapshots its entire cache to a JSON file after every uncached
request, with an appended run-meta header (creator, file-spec-version,
program version, wall time, args — ``src/citation_graph/cache_manager.py:
185-197,221-237``), and on restart validates + migrates + re-hydrates it
(``cache_manager.py:239-329``, ``database.py:30-63``).

The Spark analog: per-iteration Parquet state under ``<dir>/iter=<k>/`` plus
a JSON manifest carrying the same lineage fields — spec version, engine
version, args, iteration, convergence metrics, and *per-file lineage*
(row count per parquet file, from its footer — stable across re-reads, unlike
partition ids) so a resumed run can verify its state. Old manifest specs
are migrated on load, mirroring the reference's v2→v3 cache shim
(``cache_manager.py:37-69``). Writing Parquet (not ``df.checkpoint()``)
both truncates the logical plan — iterative joins otherwise re-plan k
joins at iteration k — and makes every iteration durable and resumable
mid-run (north_rule).
"""

from __future__ import annotations

import json
import os
import shutil
import time
from dataclasses import dataclass, field
from typing import Any

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import ArrayType, DataType, MapType, StructField, StructType

SPEC_VERSION = 2
# The manifest's ``creator`` field, as the reference's run-meta header has one.
CREATOR = "citation_graph_spark"
# Underscore prefix: Spark's file index skips it when scanning the parquet dir.
_MANIFEST = "_manifest.json"


def _file_rows(directory: str) -> dict[str, int]:
    """Row count per data file of a Parquet dir, from the footers (no Spark job).
    As in Spark's file index, names starting with ``_`` or ``.`` are not data;
    0-row files are left out, as a grouped count over ``input_file_name`` never
    saw them. A truncated file raises ``ValueError``."""
    names = sorted(n for n in os.listdir(directory) if not n.startswith(("_", ".")))
    rows = {n: pq.read_metadata(os.path.join(directory, n)).num_rows for n in names}
    return {n: r for n, r in rows.items() if r}


def _nullable(dt: DataType) -> DataType:
    """``dt`` as a Parquet re-read reports it: every field, element and value nullable."""
    if isinstance(dt, StructType):
        fields = [StructField(f.name, _nullable(f.dataType), True, f.metadata) for f in dt]
        return StructType(fields)
    if isinstance(dt, ArrayType):
        return ArrayType(_nullable(dt.elementType))
    if isinstance(dt, MapType):
        return MapType(_nullable(dt.keyType), _nullable(dt.valueType))
    return dt


def _migrate_1_to_2(manifest: dict[str, Any]) -> dict[str, Any]:
    """Spec 1 recorded per-*partition* row counts keyed by
    ``spark_partition_id`` — not stable across re-reads of the same parquet
    dir, so useless as validation. Spec 2 keys lineage by file name. A v1
    manifest can't be upgraded to real per-file lineage after the fact:
    mark the lineage unknown (total row count still validates)."""
    out = dict(manifest)
    out.pop("partitions", None)
    out["files"] = None
    out["file-spec-version"] = 2
    return out


# The reference migrates old cache specs on load rather than stranding them
# (cache_manager.py:37-69, applied at 239-329). Same contract here: each
# entry upgrades one spec step; load() chains them to SPEC_VERSION.
MIGRATIONS = {1: _migrate_1_to_2}


def resume_compatible(
    manifest_args: dict[str, Any] | None,
    current_args: dict[str, Any] | None,
    ignore: tuple[str, ...] = ("max_iter", "tol"),
) -> bool:
    """True iff a recorded run's args match the current call's, excluding
    continuation knobs (more/fewer iterations or a different tolerance are
    legitimate reasons to resume; a different alpha/salt/root is not).

    The reference validates its cache on load (``cache_manager.py:239-329``)
    — the analog here: a checkpoint written under different hyperparameters
    must never silently blend into a new run."""
    drop = set(ignore)
    a = {k: v for k, v in (manifest_args or {}).items() if k not in drop}
    b = {k: v for k, v in (current_args or {}).items() if k not in drop}
    return a == b


@dataclass
class CheckpointManager:
    """Directory-backed state store for one iterative run."""

    spark: SparkSession
    path: str
    args: dict[str, Any] = field(default_factory=dict)

    def _iter_dir(self, iteration: int) -> str:
        return os.path.join(self.path, f"iter={iteration}")

    def _write_manifest(self, iteration: int, manifest: dict[str, Any]) -> None:
        """Write-to-temp + rename: a kill mid-write leaves the old manifest or the new one."""
        path = os.path.join(self._iter_dir(iteration), _MANIFEST)
        with open(path + ".tmp", "w", encoding="utf-8") as fh:
            json.dump(manifest, fh, indent=1, sort_keys=True)
        os.replace(path + ".tmp", path)

    def save(
        self,
        state: DataFrame,
        iteration: int,
        metrics: dict[str, Any] | None = None,
    ) -> None:
        """Write state + manifest for ``iteration`` (one Spark job: the write)."""
        from citation_graph_spark import __version__

        target = self._iter_dir(iteration)
        # Write-to-temp + rename: ``state`` may itself be reading from
        # ``target`` (e.g. a resumed run re-saving the iteration it loaded) —
        # a direct overwrite would delete its own input files mid-write.
        # Kill-safety: a dir without a manifest is skipped by ``latest()``,
        # so any interruption in this sequence leaves a resumable store.
        tmp = target + ".tmp"
        if os.path.isdir(tmp):
            shutil.rmtree(tmp)
        state.write.mode("overwrite").parquet(tmp)
        if os.path.isdir(target):
            shutil.rmtree(target)
        os.rename(tmp, target)
        lineage = [{"file": f, "rows": n} for f, n in _file_rows(target).items()]
        manifest = {
            "creator": CREATOR,
            "file-spec-version": SPEC_VERSION,
            "version": __version__,
            "time": time.time(),
            "args": self.args,
            "iteration": iteration,
            "metrics": metrics or {},
            "files": lineage,
            "rows": sum(p["rows"] for p in lineage),
            "schema": _nullable(state.schema).jsonValue(),
        }
        self._write_manifest(iteration, manifest)
        # Iterations above this one belong to a superseded timeline (a fresh
        # restart after an args mismatch, or a shorter re-run): once
        # iteration k is durably written, anything newer is stale — prune it
        # so a later resume can never pick a dead timeline's state.
        for it in self.iterations():
            if it > iteration:
                shutil.rmtree(self._iter_dir(it), ignore_errors=True)

    def set_metrics(self, iteration: int, metrics: dict[str, Any]) -> None:
        """Replace a saved iteration's recorded metrics; its state stays as written."""
        with open(os.path.join(self._iter_dir(iteration), _MANIFEST), encoding="utf-8") as fh:
            manifest = json.load(fh)
        self._write_manifest(iteration, {**manifest, "metrics": metrics})

    def iterations(self) -> list[int]:
        if not os.path.isdir(self.path):
            return []
        out = []
        for name in os.listdir(self.path):
            if name.startswith("iter=") and os.path.isfile(
                os.path.join(self.path, name, _MANIFEST)
            ):
                out.append(int(name.split("=", 1)[1]))
        return sorted(out)

    def load(self, iteration: int) -> tuple[DataFrame, dict[str, Any]]:
        """Load + validate one iteration's state (the reference's
        validate-on-load, ``database.py:30-63``).

        Older manifest specs are migrated in place via ``MIGRATIONS`` (and
        the upgraded manifest is written back). Raises on an unknown/newer
        spec, an unreadable footer, or per-file row-count drift vs the
        recorded lineage (the row counts in the Parquet footers — stable
        across reads; a v1 manifest has unknown file lineage, so only the
        total is checked). Runs no Spark job: the state is read with the
        manifest's schema (inferred only for a manifest without one)."""
        target = self._iter_dir(iteration)
        with open(os.path.join(target, _MANIFEST), encoding="utf-8") as fh:
            manifest = json.load(fh)
        spec = manifest.get("file-spec-version")
        migrated = False
        while spec in MIGRATIONS and spec < SPEC_VERSION:
            manifest = MIGRATIONS[spec](manifest)
            spec = manifest["file-spec-version"]
            migrated = True
        if spec != SPEC_VERSION:
            raise ValueError(
                f"checkpoint spec {spec} not readable by engine spec {SPEC_VERSION}"
            )
        actual = _file_rows(target)
        if manifest.get("files") is not None:
            expected = {p["file"]: p["rows"] for p in manifest["files"]}
            if actual != expected:
                raise ValueError(
                    f"checkpoint corrupt: per-file rows {actual} != manifest {expected}"
                )
        rows = sum(actual.values())
        if rows != manifest["rows"]:
            raise ValueError(
                f"checkpoint corrupt: {rows} rows on disk, manifest says {manifest['rows']}"
            )
        if migrated:
            self._write_manifest(iteration, manifest)
        schema = manifest.get("schema")
        reader = self.spark.read.schema(StructType.fromJson(schema)) if schema else self.spark.read
        return reader.parquet(target), manifest

    def latest(self) -> tuple[int, DataFrame, dict[str, Any]] | None:
        """Newest valid iteration, or None — resume entry point. Falls back
        to earlier iterations if the newest fails validation (a kill mid-write
        leaves no manifest, so partially written iterations are skipped; a
        truncated part file fails its footer read)."""
        for iteration in reversed(self.iterations()):
            try:
                df, manifest = self.load(iteration)
                return iteration, df, manifest
            except (ValueError, OSError):
                continue
        return None
