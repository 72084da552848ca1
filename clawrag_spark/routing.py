"""Route-dispatched chunking (S13 → C5/C7/S11/C2 dispatch + C9 profiles).

Ties the detector (``core.data_type``) to the chunker family the
reference uses per route (data_type_detector.py docstring table,
document_router_service.py:80-146 profiles):

- CODE → structure-aware code chunker (C5, code_loader.py:192-289),
- EMAIL → RFC-822 parse, then sentence-chunk the *body* (S11 + C3,
  email_loader.py:48-108; chunk spans index into the parsed body),
- STRUCTURED_TABLE → row-based chunker (C7),
- UNSTRUCTURED_TEXT / UNKNOWN → separator cascade (C2) with the routing
  profile's (size, overlap) when a non-default profile applies
  (C9, document_routing_rules.json:3-94), else the per-MIME config
  (C8, ingest_config.py:29-38).

Pure per-document functions; ``udfs.routed_chunker`` runs them in Spark.
"""

from __future__ import annotations

from .chunk_config import CONFIG_BY_PROFILE, ChunkCfg, config_for_mime
from .core import data_type as dt
from .core.chunkers import (
    Chunk,
    code_chunks,
    row_chunks,
    sentence_chunks,
    separator_cascade_chunks,
)
from .core.email_parse import parse_email

EMAIL_CFG = ChunkCfg(512, 80)  # ingest_config.py:29-38 email entry


def route_chunks(
    route: str,
    mime: str | None,
    text: str,
    profile: str | None = None,
) -> list[Chunk]:
    """Chunk one document according to its detected route."""
    text = text or ""
    if route == dt.CODE:
        return code_chunks(text)
    if route == dt.EMAIL:
        parsed = parse_email(text.encode("utf-8", "surrogatepass"))
        body = parsed.body if parsed.error is None else text
        return sentence_chunks(body, EMAIL_CFG.chunk_size, EMAIL_CFG.chunk_overlap)
    if route == dt.STRUCTURED_TABLE:
        return row_chunks(text)
    cfg = None
    if profile and profile != "default":
        cfg = CONFIG_BY_PROFILE.get(profile)
    if cfg is None:
        cfg = config_for_mime(mime)
    return separator_cascade_chunks(text, cfg.chunk_size, cfg.chunk_overlap)


def detect_and_chunk(
    url: str | None,
    mime: str | None,
    text: str,
    profile: str | None = None,
) -> tuple[str, str, list[Chunk]]:
    """(route, applied_profile, chunks) for one document — what
    ``udfs.routed_chunker`` runs per row inside the chunk+embed kernel
    ``udfs.chunk_embed_arrow``.

    Documents whose extension contradicts their sniffed content are
    REJECTED with zero chunks (S5 crosscheck, upload.py:70-116); the
    routed chunker emits a single total_chunks=0 marker row for them so
    the rejection stays countable downstream.
    """
    err = dt.crosscheck_extension_mime(url, mime)
    if err is not None:
        return f"rejected:{err}", "default", []
    route = dt.detect_data_type_from(url, mime, text or "")
    applied = profile or dt.PROFILE_BY_ROUTE.get(route, "default")
    return route, applied, route_chunks(route, mime, text, applied)
