"""Expected extraction output, from the independent oracle.

``tests/oracle.py::oracle_extract`` costs ~5-25 ms per document, too
slow to run over a whole corpus in every benchmark run.  A worker pool
therefore regenerates each document with ``build_doc`` (the generator
under test, ~0.7 ms), and the oracle's fingerprint of it (row count,
row-hash sum; see ``inputs.row_hash``) is cached in
``perfbench/.cache`` under a digest of the generated document itself.
Any change to what the generator emits, through any module it
reaches, misses the cache and is judged afresh.  The cache file name
carries a digest of the oracle side (the oracle, the rules it shares
with the program and the fingerprint code), so an edit there starts a
fresh cache.
"""

from __future__ import annotations

import gc
import hashlib
import json
import multiprocessing
import os
from multiprocessing import resource_tracker

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CACHE_DIR = os.path.join(HERE, ".cache")

_ORACLE_SOURCES = (
    "tests/oracle.py",
    "accountant_pdf_extract_spark/spec.py",
    "accountant_pdf_extract_spark/functions/rules.py",
    "perfbench/inputs.py",
    "perfbench/oracle_cache.py",
)

_known: frozenset[str] = frozenset()


def _cache_path() -> str:
    h = hashlib.sha256()
    for rel in _ORACLE_SOURCES:
        with open(os.path.join(ROOT, rel), "rb") as f:
            h.update(f.read())
    return os.path.join(CACHE_DIR, f"oracle-{h.hexdigest()[:16]}.json")


def doc_digest(doc_id: str, spans) -> str:
    """SHA-256 over the doc_id and every field of every span, each
    length-prefixed."""
    h = hashlib.sha256(doc_id.encode())
    for kind, payload, ref, order in spans:
        for part in (kind, payload, ref, str(order)):
            b = part.encode("utf-8", "surrogatepass")
            h.update(len(b).to_bytes(8, "little"))
            h.update(b)
    return h.hexdigest()


def _init(known: frozenset[str]) -> None:
    global _known
    _known = known


def _fingerprint(item: tuple[int, str]):
    """(digest, rows, row-hash sum) of one generated document; rows and
    sum are None when the digest is already cached."""
    from accountant_pdf_extract_spark.sources.synth import DEFAULT_WORDS, build_doc
    from perfbench.inputs import SYNTH_SEED, row_hash
    from tests.oracle import oracle_extract

    key, text = item
    doc_id = f"doc-{key:08d}"
    spans = build_doc(key, SYNTH_SEED, (text or "").split() or DEFAULT_WORDS)
    digest = doc_digest(doc_id, spans)
    if digest in _known:
        return digest, None, None
    rows, _fields = oracle_extract(spans)
    return digest, len(rows), sum(
        row_hash(doc_id, k, t, r, o) for k, t, r, o in rows
    )


def _pool_map(items, workers: int, known: frozenset[str], beside):
    ctx = multiprocessing.get_context("spawn")
    with ctx.Pool(workers, _init, (known,)) as pool:
        pending = pool.map_async(_fingerprint, items, chunksize=64)
        if beside is not None:
            beside()
        return pending.get()


def expected(docs, workers: int, beside=None) -> tuple[int, int, int]:
    """(rows, row-hash sum, documents the oracle ran on now) for
    ``docs`` (``inputs.documents`` rows).  ``beside``, if given, runs
    in this process while the pool works."""
    path = _cache_path()
    cache: dict[str, list[int]] = {}
    if os.path.exists(path):
        with open(path) as f:
            cache = json.load(f)
    got = _pool_map([(d[0], d[1]) for d in docs], workers,
                    frozenset(cache), beside)
    # the spawn pool started a resource tracker, which would outlive
    # this process by a moment: once the pool's semaphores are freed,
    # stop it and wait for it
    gc.collect()
    resource_tracker._resource_tracker._stop()
    fresh = {dg: [n, s] for dg, n, s in got if n is not None}
    if fresh:
        cache.update(fresh)
        os.makedirs(CACHE_DIR, exist_ok=True)
        tmp = f"{path}.{os.getpid()}.tmp"
        with open(tmp, "w") as f:
            json.dump(cache, f)
        os.replace(tmp, path)
    rows = sum(cache[dg][0] for dg, _, _ in got)
    total = sum(cache[dg][1] for dg, _, _ in got)
    return rows, total, len(fresh)
