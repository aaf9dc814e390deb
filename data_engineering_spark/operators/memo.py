"""Session-lifetime memos keyed on a DataFrame's logical plan.

Operators reuse an intermediate across the stages of one query, or
across queries over one corpus, the way the reference's ETL tiers reuse
a staged relation. This module owns every reuse decision. Two kinds
share one registry and one lock:

- :func:`persisted`: a MEMORY_AND_DISK shared prep per distinct (input
  plan, params); :func:`release` frees a relation the registry does not
  own (an unhashable plan's unregistered persist).
- :func:`value`: a driver-side value (BPE merge rows, perceptron
  weights) per distinct (input plan, params). ``memo=False`` just builds.

Key: ``semanticHash`` plus params, confirmed by ``sameSemantics``. An
unhashable plan is persisted or built unregistered: its entry could
never match and would only evict a live one. A hit refreshes the
entry's LRU position; inserts past a kind's cap evict the oldest, and
evicted relations are unpersisted outside the lock. One lock guards
every mutation: overlapping streaming ``foreachBatch`` threads once
raced an unguarded check-then-pop eviction into a failed query.

Reuse contract for a path rewritten in place mid-session (probed on
Spark 4.1.2, ``local[2]``): a Spark ``write.mode("overwrite")`` to the
path re-caches it, so the next hit returns the new rows. A rewrite
outside Spark (pyarrow, another process) serves stale rows, and no
per-call opt-out helps: Spark's CacheManager matches any fresh persist
of the same plan to the old cached data by plan semantics. The caller
runs ``spark.catalog.refreshByPath(path)`` (or ``clearCache()``) after
such a rewrite; the next call then returns fresh rows.

Liveness: a session ``clearCache()`` (bench and driver harness run one
between queries) uncaches relations underneath the registry. An entry
reading ``StorageLevel.NONE`` is dropped and rebuilt; handing it out
would let column pruning re-inline the lattice quantize tree per PAIR,
the 4.5× verify slowdown ``tests/test_plans.py`` pins.

Caps: all relation families share ONE cap of 24. Evicting a prep that
an un-executed returned plan still references dissolves its
materialization boundary (the same 4.5× trap; a three-deep FIFO tripped
it the first session it ran), so the cap must cover the worst-case
LIVE slots of a sweep that builds every prep before executing. The
eleven families: lattice preps (one per vec column and scale),
``minhash_sh`` + ``minhash_cand`` (one ``minhash_near_dedup`` call
holds both), ``simhash_sig``, ``ngram_sh``, ``verbatim_starts``,
``tfidf_tf``, ``tpch_q15_revenue``, ``cls_feats``, ``dsir_feats`` and
``bp_chunks``: about 13-15 live slots at worst, so 24 keeps a margin.
Slots are at most corpus-projection size. Driver values are small
(≤ 1024 merge tuples, ≤ 65 weights); each value kind has a cap of 4.
"""

from __future__ import annotations

import threading
from typing import Any, Callable, TypeVar

from pyspark import StorageLevel
from pyspark.sql import DataFrame

T = TypeVar("T")

RELATIONS = "relations"
_CAPS = {RELATIONS: 24, "bpe_vocab": 4, "perceptron_weights": 4}
# kind -> entries (plan hash, input plan, params, memoized value), oldest first
_REGISTRY: dict[str, list[tuple[int, DataFrame, tuple, Any]]] = {k: [] for k in _CAPS}
_LOCK = threading.Lock()


def _plan_hash(src: DataFrame) -> int | None:
    try:
        return src.semanticHash()
    except Exception:  # noqa: BLE001 — hashing is an optimization, never a gate
        return None


def _lookup(kind: str, h: int, src: DataFrame, params: tuple) -> tuple | None:
    """The live entry for (h, src, params), LRU-refreshed, or None."""
    with _LOCK:
        entries = _REGISTRY[kind]
        for entry in list(entries):
            eh, esrc, eparams, val = entry
            if eh != h or eparams != params:
                continue
            try:
                if not esrc.sameSemantics(src):
                    continue
                if kind == RELATIONS and val.storageLevel == StorageLevel.NONE:
                    entries.remove(entry)
                    continue
            except Exception:  # noqa: BLE001
                continue
            entries.remove(entry)
            entries.append(entry)
            return entry
    return None


def _register(kind: str, h: int, src: DataFrame, params: tuple, val: Any) -> list:
    """Insert an entry; returns the values evicted past the kind's cap."""
    with _LOCK:
        entries = _REGISTRY[kind]
        entries.append((h, src, params, val))
        n_over = max(0, len(entries) - _CAPS[kind])
        evicted = [e[3] for e in entries[:n_over]]
        del entries[:n_over]
    return evicted


def _unpersist(relations: list[DataFrame]) -> None:
    for df in relations:
        try:
            df.unpersist()
        except Exception:  # noqa: BLE001 — a dead session must not poison the next query
            pass


def persisted(src: DataFrame, params: tuple, out: DataFrame) -> DataFrame:
    """``out`` persisted MEMORY_AND_DISK, served from the registry when
    the same (``src`` plan, ``params``) was registered this session.
    ``out`` is derived from ``src`` (often ``src`` itself). The caller
    must not unpersist a registered relation; :func:`release` does the
    right thing either way."""
    h = _plan_hash(src)
    if h is not None:
        hit = _lookup(RELATIONS, h, src, params)
        if hit is not None:
            return hit[3]
    out = out.persist(StorageLevel.MEMORY_AND_DISK)
    if h is not None:
        _unpersist(_register(RELATIONS, h, src, params, out))
    return out


def value(
    kind: str, src: DataFrame, params: tuple, build: Callable[[], T], memo: bool = True
) -> T:
    """``build()``'s driver-side result, served from the ``kind`` memo
    when the same (``src`` plan, ``params``) was built this session.
    The memoized object itself is returned: callers must not mutate it."""
    h = _plan_hash(src) if memo else None
    if h is not None:
        hit = _lookup(kind, h, src, params)
        if hit is not None:
            return hit[3]
    val = build()
    if h is not None:
        _register(kind, h, src, params, val)
    return val


def release(df: DataFrame) -> None:
    """Unpersist a relation from :func:`persisted` unless the registry
    owns it (a registered entry stays for other consumers)."""
    with _LOCK:
        if any(e[3] is df for e in _REGISTRY[RELATIONS]):
            return
    _unpersist([df])


def clear() -> None:
    """Empty every memo, unpersisting the registered relations."""
    with _LOCK:
        relations = [e[3] for e in _REGISTRY[RELATIONS]]
        for entries in _REGISTRY.values():
            entries.clear()
    _unpersist(relations)
