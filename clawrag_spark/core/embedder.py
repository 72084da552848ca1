"""Deterministic hashing-trick text embeddings.

Replaces the reference's network embedding providers (Ollama/OpenAI/HF,
nomic-embed-text 768-dim default — backend/src/core/embedding_manager.py:
58-67,104-302) with a feature-hashing embedder: token counts are hashed
into ``dim`` buckets with a ±1 sign hash, then L2-normalized (float32).
Fully deterministic across processes (crc32-based, never Python's
salted ``hash``), vectorizable with numpy inside the pandas UDF, and a
drop-in config point for a real model provider at production scale.

Default ``dim=64`` at test scale (FIXTURES.md §2); 768 mirrors the
reference default.
"""

from __future__ import annotations

import re
import zlib

import numpy as np

DEFAULT_DIM = 64

_TOKEN_RE = re.compile(r"\w+")


# token → crc32 memo: web text is Zipf-distributed, so the hit rate is
# high; the value is dim-independent (idx/sign derive from the hash).
_HASH_CACHE: dict[str, int] = {}
_HASH_CACHE_MAX = 1_000_000


def embed_text_np(text: str | None, dim: int = DEFAULT_DIM) -> np.ndarray:
    """Embed one string → float32 numpy vector (UDF hot path).

    Identical math to the original definition; tokens are counted first
    (Counter) so each distinct token pays one hash lookup, and hashes
    are memoized across calls within a worker.
    """
    vec = np.zeros(dim, dtype=np.float64)
    if text:
        from collections import Counter

        cache_get = _HASH_CACHE.get
        for tok, count in Counter(_TOKEN_RE.findall(text.lower())).items():
            h = cache_get(tok)
            if h is None:
                h = zlib.crc32(tok.encode("utf-8"))
                if len(_HASH_CACHE) < _HASH_CACHE_MAX:
                    _HASH_CACHE[tok] = h
            sign = 1.0 if (h >> 31) & 1 == 0 else -1.0
            vec[h % dim] += sign * count
    norm = float(np.sqrt((vec * vec).sum()))
    if norm > 0:
        vec /= norm
    return vec.astype(np.float32)


def embed_text(text: str | None, dim: int = DEFAULT_DIM) -> list[float]:
    """Embed one string (oracle path; same math as ``embed_text_np``)."""
    return [float(x) for x in embed_text_np(text, dim)]


def embed_many_np(texts, dim: int = DEFAULT_DIM) -> np.ndarray:
    """Embed a whole batch → (n, dim) float32 matrix.

    Bit-identical to per-text ``embed_text_np`` (sign*count sums are
    exact integers in float64; normalization math unchanged) but the
    numpy allocation/normalization cost is paid once per batch instead
    of once per chunk.
    """
    from collections import Counter

    n = len(texts)
    mat = np.zeros((n, dim), dtype=np.float64)
    cache_get = _HASH_CACHE.get
    for i, text in enumerate(texts):
        if not text:
            continue
        row = mat[i]
        for tok, count in Counter(_TOKEN_RE.findall(text.lower())).items():
            h = cache_get(tok)
            if h is None:
                h = zlib.crc32(tok.encode("utf-8"))
                if len(_HASH_CACHE) < _HASH_CACHE_MAX:
                    _HASH_CACHE[tok] = h
            row[h % dim] += (1.0 if (h >> 31) & 1 == 0 else -1.0) * count
    norms = np.sqrt((mat * mat).sum(axis=1))
    norms[norms == 0.0] = 1.0
    return (mat / norms[:, None]).astype(np.float32)


# ---------------------------------------------------- E2 fallback chain
# Mirrors embedding_manager.py:43-67 (per-provider fallback chains +
# known-dimension registry) and :146-163 (try primary → walk the chain
# skipping the model just tried → cache the resolution under the
# ORIGINAL key so later calls go straight to the fallback).  Providers
# here are deterministic hash-embedder families; a production deploy
# swaps the registry for real model endpoints behind the same resolve().

FALLBACK_CHAIN: dict[str, list[str]] = {
    "hash": ["hash-64:v1", "hash-32:v1", "hash-16:v1"],
    "hash-wide": ["hash-768:v1", "hash-256:v1", "hash-64:v1"],
}

KNOWN_DIMENSIONS: dict[str, int] = {
    "hash-16:v1": 16,
    "hash-32:v1": 32,
    "hash-64:v1": 64,
    "hash-256:v1": 256,
    "hash-768:v1": 768,
}

_RESOLVE_CACHE: dict[tuple[str, str], str] = {}


def resolve_embedder(
    provider: str = "hash",
    model: str = "hash-64:v1",
    available=None,
    use_fallback: bool = True,
) -> tuple[str, int]:
    """Resolve (model, dim) for a provider/model request.

    ``available`` is a predicate ``model_name -> bool`` standing in for
    the reference's provider initialization (network models can fail to
    load; hash embedders never do, so tests inject failures).  Raises
    ``LookupError`` when the primary and every fallback are unavailable
    — the reference's all-attempts-failed None return, made loud.
    """
    key = (provider, model)
    cached = _RESOLVE_CACHE.get(key)
    if cached is not None:
        return cached, KNOWN_DIMENSIONS[cached]
    ok = available if available is not None else (lambda name: True)

    def try_model(name: str) -> tuple[str, int] | None:
        if name in KNOWN_DIMENSIONS and ok(name):
            _RESOLVE_CACHE[key] = name  # cache under the ORIGINAL key
            return name, KNOWN_DIMENSIONS[name]
        return None

    hit = try_model(model)
    if hit:
        return hit
    if use_fallback:
        for fb in FALLBACK_CHAIN.get(provider, []):
            if fb == model:
                continue  # skip the model just tried (:153-155)
            hit = try_model(fb)
            if hit:
                return hit
    raise LookupError(
        f"no available embedding model for {provider}:{model} "
        f"(fallback={'on' if use_fallback else 'off'})"
    )


def embed_with_model(texts, model: str) -> np.ndarray:
    """Embed a batch with a registry model (dim from the registry)."""
    return embed_many_np(texts, KNOWN_DIMENSIONS[model])
