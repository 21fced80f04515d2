"""Build-artifact store: every product the engine derives ONCE per
source generation and serves on every later call.

Two tiers share one key (``cache_key``: sf_dir plus a mtime:size
token per source table) and one eviction policy (a newer generation
of the same (name, sf_dir) supersedes the old one):

- ``memo`` keeps small driver-side build products in process memory
  (centroid lists, codebooks, corpus stats, merge lists, artifact
  paths) — plain data, never a DataFrame or a handle that pins the
  building SparkSession;
- ``artifact`` / ``streamed_artifact`` commit parquet outputs under
  ``artifact_root()``, gated on the ``_COMMITTED`` marker, so later
  PROCESSES reuse them instead of rebuilding.

A real pipeline computes the candidate-pair manifest / cluster map /
graph edge list ONCE per corpus snapshot; every downstream consumer
reads the artifact — re-running the blocked pair join or the
co-occurrence pairing per report would re-shuffle the 100 TB corpus
for identical bytes. First call builds and pays the cost; later calls
read. The queries that DECLARE a construction itself (q24 pairs, q74
edges) never touch this store — they stay on the measured surface;
the artifacts serve the families built ON TOP of the products
(q37/q67/q95 on pairs, q75/q77/q87 on edges).
"""

from __future__ import annotations

import hashlib
import os
import tempfile
from collections.abc import Callable
from typing import Any

from pyspark.sql import DataFrame, SparkSession

from cdc_makanmana_spark import fs

# (sf_dir, name) -> (generation, value): one live entry per name and
# sf_dir, so a regenerated source replaces its superseded value
_MEMO: dict[tuple[str, str], tuple[str, Any]] = {}


def cache_key(spark: SparkSession, sf_dir: str, *tables: str) -> tuple[str, str]:
    """Cache key for anything derived from ``tables`` under ``sf_dir``:
    folds in a mtime:size token per source table (fs.stat_token), so
    regenerating the data invalidates every derived cache entry — a
    bare sf_dir key would silently serve artifacts built from the
    previous generation of the files."""
    token = ";".join(
        f"{t}={fs.stat_token(spark, f'{sf_dir}/{t}.parquet')}" for t in tables
    )
    return (sf_dir, token)


def artifact_root() -> str:
    """Root directory for committed build artifacts. Override with
    $CDC_ARTIFACT_DIR. The default is PER-USER (XDG cache dir, falling
    back to a uid-suffixed temp path when there is no home): a fixed
    world-writable path under the shared system temp dir would let
    another user on a multi-user host pre-plant or poison committed
    artifacts that queries then serve as results — the _COMMITTED
    marker proves write completion, not write provenance."""
    override = os.environ.get("CDC_ARTIFACT_DIR")
    if override:
        return override
    home = os.path.expanduser("~")
    if home and home != "~":
        cache = os.environ.get("XDG_CACHE_HOME", os.path.join(home, ".cache"))
        return os.path.join(cache, "cdc_makanmana_artifacts")
    return os.path.join(
        tempfile.gettempdir(), f"cdc_makanmana_artifacts_{os.getuid()}"
    )


def artifact_basename(key: tuple[str, str], name: str, params: str) -> str:
    """On-disk dir name ``{name}_{sfhash}_{digest}`` — the single
    definition every committed artifact derives its path from. The
    digest folds (sf_dir, source stat tokens, build params);
    ``params`` must capture every constant that changes the
    artifact's CONTENT (thresholds, band/bit counts, top-m, ...):
    source fingerprints alone would keep serving a committed artifact
    built by older code after a parameter bump. The separate sfhash
    segment scopes stale-generation eviction to one sf_dir —
    artifacts for other sf_dirs keep living side by side."""
    sfhash = hashlib.md5(key[0].encode()).hexdigest()[:6]
    digest = hashlib.md5("|".join((*key, params)).encode()).hexdigest()[:16]
    return f"{name}_{sfhash}_{digest}"


def artifact_path(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    tables: tuple[str, ...],
    params: str,
) -> str:
    """Committed-artifact directory for the CURRENT generation of
    ``tables`` under ``sf_dir``. Builders that write their own layout
    (an index, bucketed tables) write here, then call
    ``evict_stale_generations`` with the same path."""
    basename = artifact_basename(cache_key(spark, sf_dir, *tables), name, params)
    return os.path.join(artifact_root(), basename)


def evict_stale_generations(spark: SparkSession, keep_path: str) -> None:
    """Drop committed artifact dirs sharing ``keep_path``'s (name,
    sfhash) prefix but not its digest — superseded source generations
    / parameter sets of the SAME sf_dir. Bounds on-disk growth at one
    artifact per (name, sf_dir) (the old per-process mkdtemp grew per
    PROCESS; fingerprinted paths would otherwise grow per data
    generation)."""
    root, keep = os.path.split(keep_path)
    prefix = keep.rsplit("_", 1)[0] + "_"
    for child in fs.list_names(spark, root, dirs_only=True):
        # spare the kept generation AND any live builder's pid-unique
        # scratch of that same generation (`<basename>.build-<pid>`,
        # streamed_artifact) — evicting it would tear a concurrent
        # build; scratch dirs of SUPERSEDED generations still go
        if child.startswith(prefix) and not child.startswith(keep):
            fs.delete(spark, f"{root}/{child}")


def memo(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    tables: tuple[str, ...],
    build: Callable[[], Any],
    params: str = "",
) -> Any:
    """In-process build product for (sf_dir, name): ``build()`` runs on
    the first request per source generation of ``tables`` (and per
    ``params``); later requests return the stored value. A new
    generation REPLACES the entry, so memory holds one value per
    (name, sf_dir) however often the data is regenerated. Store plain
    data or paths only — a DataFrame pins the building session."""
    gen = artifact_basename(cache_key(spark, sf_dir, *tables), name, params)
    hit = _MEMO.get((sf_dir, name))
    if hit is None or hit[0] != gen:
        hit = _MEMO[(sf_dir, name)] = (gen, build())
    return hit[1]


def artifact(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    tables: tuple[str, ...],
    build: Callable[[], DataFrame],
    params: str = "",
) -> DataFrame:
    """Build-once/read-many parquet artifact: `build()` runs on the
    first request for this (sf_dir, name, source-fingerprint); every
    later request is a plain parquet scan (its own lineage root — no
    localCheckpoint blocks to release, no session pinning).

    The cache key folds in a mtime:size fingerprint of the source
    ``tables`` (fs.stat_token), so regenerating the data under the
    same sf_dir invalidates the artifact instead of silently serving
    stale bytes. The on-disk path is deterministic per fingerprint and
    gated on the ``_COMMITTED`` marker written LAST (fs.mark_committed
    — the engine's sink commit protocol), so later PROCESSES reuse a
    committed artifact instead of rebuilding, and a crash mid-build
    leaves an unmarked dir the next run overwrites. Not safe against
    two processes building the same artifact at the same instant —
    acceptable for a build artifact whose rebuild is idempotent."""

    def commit() -> str:
        path = artifact_path(spark, sf_dir, name, tables, params)
        if not fs.is_committed(spark, path):
            build().write.mode("overwrite").parquet(path)
            fs.mark_committed(spark, path)
            evict_stale_generations(spark, path)
        return path

    return spark.read.parquet(memo(spark, sf_dir, name, tables, commit, params))


def streamed_artifact(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    params: str,
    build: Callable[[str], None],
    serve: str,
) -> str:
    """Shared build-commit protocol for the streaming replays
    (q103-q107), mirroring `artifact` but for multi-step builders
    (stage files → run the streaming query → promote the result).

    ``build(work_dir)`` stages its inputs, checkpoints, and output
    under a PROCESS-UNIQUE scratch dir, writing the servable result to
    ``work_dir/<serve>``; the helper then promotes only that subdir to
    the committed path with a single `fs.rename` and deletes the
    scratch (so stage copies and checkpoints are never retained inside
    the committed artifact). Building in a pid-unique dir means a
    concurrent builder of the same fingerprint can no longer delete
    this process's in-flight stage/checkpoint (the torn-commit race a
    shared dir had); the remaining delete→rename→mark window is
    milliseconds and write-once idempotent — the same residual
    `artifact` documents. If the rename loses that race to an
    already-committed winner, the winner is served.

    Returns the committed path; callers wrap their own read (q104
    serves merged partials via RollupMaintainer, not a plain scan)."""
    path = artifact_path(spark, sf_dir, name, ("events",), params)
    if not fs.is_committed(spark, path):
        work = f"{path}.build-{os.getpid()}"
        fs.delete(spark, work)
        try:
            build(work)
            out = os.path.join(work, serve)
            if not fs.is_committed(spark, path):
                fs.delete(spark, path)
                if not fs.rename(spark, out, path):
                    # lost the promote race — serve the winner if one
                    # committed; anything else is a real failure
                    if not fs.is_committed(spark, path):
                        raise RuntimeError(
                            f"promote of {name} artifact to {path} failed"
                        )
                else:
                    fs.mark_committed(spark, path)
        finally:
            fs.delete(spark, work)
        evict_stale_generations(spark, path)
    return path
