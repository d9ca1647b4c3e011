"""The one persisted-artifact contract: build once, serve many.

Every at-rest artifact — the eight index families (IVF-PQ, kNN graph,
BM25, minhash, chunk, n-gram, phash, HLL) and the three JSON-only
artifacts (BPE vocabulary, power directions, logreg weights) — is a
directory ``<root>/<kind>_<sf basename>[_<variant>]`` holding its data
tables plus one JSON sidecar (fingerprint, params, family fields).
This module owns every decision those artifacts share:

- :func:`root`: the kind's root directory, ``$SPARK_GRAFT_*_DIR`` or
  ``spark-warehouse/<dir>`` — read at call time;
- :func:`path`: the artifact directory name;
- :func:`source_fingerprint`: the staleness key of the source table;
- :func:`ensure`: build-if-absent-or-stale;
- :func:`load_meta` / :func:`save_meta`: sidecar I/O. A save writes a
  temp file beside the sidecar and ``os.replace``s it in, so a writer
  that dies mid-write leaves the previous sidecar intact.

The leading underscore of every sidecar (and temp) file name keeps it
invisible to the parquet reader, like ``_SUCCESS``.

Reference parity: the reference persists fetched match documents and
re-serves them without refetching (reference src/api/db.py:23-38
truncate-and-load); this is that contract, once.
"""

from __future__ import annotations

import hashlib
import json
import os
import uuid
from typing import Callable

from lol_data_pipeline_spark.io import table_path

_REPO_ROOT = os.path.dirname(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)

# kind (= directory prefix) -> (root variable, spark-warehouse/ default,
# sidecar file name)
KINDS: dict[str, tuple[str, str, str]] = {
    "ivfpq": ("SPARK_GRAFT_INDEX_DIR", "vector_index", "_index_meta.json"),
    "knn": ("SPARK_GRAFT_GRAPH_INDEX_DIR", "graph_index", "_graph_meta.json"),
    "bm25": ("SPARK_GRAFT_TEXT_INDEX_DIR", "text_index", "_text_meta.json"),
    "minhash": (
        "SPARK_GRAFT_MINHASH_INDEX_DIR", "minhash_index", "_minhash_meta.json"
    ),
    "chunk": ("SPARK_GRAFT_CHUNK_INDEX_DIR", "chunk_index", "_chunk_meta.json"),
    "ngram": ("SPARK_GRAFT_CHUNK_INDEX_DIR", "chunk_index", "_chunk_meta.json"),
    "phash": ("SPARK_GRAFT_PHASH_INDEX_DIR", "phash_index", "_phash_meta.json"),
    "hll": ("SPARK_GRAFT_SKETCH_INDEX_DIR", "sketch_index", "_sketch_meta.json"),
    "bpe": ("SPARK_GRAFT_BPE_VOCAB_DIR", "bpe_vocab", "_bpe_meta.json"),
    "dirs": ("SPARK_GRAFT_POWER_DIRS_DIR", "power_dirs", "_dirs_meta.json"),
    "qlr": ("SPARK_GRAFT_LR_MODEL_DIR", "quality_model", "_model_meta.json"),
}


def root(kind: str) -> str:
    env, default, _ = KINDS[kind]
    return os.environ.get(env, os.path.join(_REPO_ROOT, "spark-warehouse", default))


def path(
    kind: str, sf_dir: str, root_dir: str | None = None, variant: str = ""
) -> str:
    """One artifact per corpus (sf basename) and ``variant`` —
    maintenance entries mutate their OWN copy so the served read-only
    artifact never sees their synthetic batches."""
    name = os.path.basename(os.path.normpath(sf_dir))
    suffix = f"_{variant}" if variant else ""
    return os.path.join(root_dir or root(kind), f"{kind}_{name}{suffix}")


def source_fingerprint(sf_dir: str, table: str) -> str:
    """Content fingerprint of the source table's files (name, size,
    mtime_ns) — cheap staleness detection: a regenerated corpus gets
    a rebuilt artifact, not stale cells.

    Deployment posture (r12 verdict): file metadata is the right key
    LOCALLY, but at cluster scale a source table lives behind a
    catalog — substitute the table's manifest/snapshot version
    (Iceberg snapshot-id, Delta table version, Hive partition
    transient_lastDdlTime) for the os.walk here. The ensure contract
    is unchanged: compare the stored key, rebuild on mismatch; only
    the key's provenance moves."""
    p = table_path(sf_dir, table)
    stats: list[tuple[str, int, int]] = []
    if os.path.isdir(p):
        for dirpath, _dirs, files in os.walk(p):
            for f in sorted(files):
                st = os.stat(os.path.join(dirpath, f))
                stats.append((f, st.st_size, st.st_mtime_ns))
    else:
        st = os.stat(p)
        stats.append((os.path.basename(p), st.st_size, st.st_mtime_ns))
    return hashlib.md5(repr(sorted(stats)).encode()).hexdigest()


def load_meta(path: str, kind: str) -> dict | None:
    """The sidecar, or None when it is missing or does not parse."""
    try:
        with open(os.path.join(path, KINDS[kind][2])) as f:
            return json.load(f)
    except (OSError, ValueError):
        return None


def save_meta(path: str, kind: str, meta: dict) -> dict:
    """Write the sidecar atomically (temp file + ``os.replace``) and
    return ``meta``."""
    os.makedirs(path, exist_ok=True)
    final = os.path.join(path, KINDS[kind][2])
    tmp = f"{final}.{uuid.uuid4().hex[:8]}.tmp"
    try:
        with open(tmp, "w") as f:
            json.dump(meta, f)
        os.replace(tmp, final)
    finally:
        if os.path.exists(tmp):
            os.unlink(tmp)
    return meta


def ensure(
    kind: str,
    sf_dir: str,
    table: str,
    params: dict,
    build: Callable[[str], dict],
    root_dir: str | None = None,
    variant: str = "",
) -> tuple[str, dict]:
    """Build-if-absent-or-stale: returns (path, sidecar meta). The
    stored sidecar is reused when its fingerprint of ``table`` and
    its ``params`` both match; otherwise ``build(path)`` runs and
    returns the new meta (it writes the sidecar last, after the
    data, so a build that dies midway is rebuilt next time). The
    build is the sidecar's only writer: it holds no count and no log
    position, so an upsert or delete never has to rewrite it and a
    reused sidecar can never lag its tables."""
    p = path(kind, sf_dir, root_dir, variant)
    meta = load_meta(p, kind)
    if (
        meta is not None
        and meta.get("fingerprint") == source_fingerprint(sf_dir, table)
        and meta.get("params") == params
    ):
        return p, meta
    os.makedirs(p, exist_ok=True)
    return p, build(p)
