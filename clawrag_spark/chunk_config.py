"""Per-type chunking heuristics (C8/C9 of SURVEY.md §2.9).

Reference config tables:
- per-extension heuristics: pdf 800/120, docx 600/100, html 500/80,
  markdown 400/60, csv 500/50, email 512/80, code 256/40, default
  800/120 (backend/src/core/ingest_config.py:29-38, applied
  indexing_service.py:109-134),
- routing rules: legal 1024/256, financial 512/128, technical 512/128,
  code 256/64, default 512/128
  (backend/src/config/document_routing_rules.json:3-94, applied
  document_router_service.py:80-146).

In the engine the config map keys off the sniffed MIME route; the map
is a plain broadcastable dict consumed by the routed chunker
(``routing.route_chunks``).
"""

from __future__ import annotations

from typing import NamedTuple


class ChunkCfg(NamedTuple):
    chunk_size: int
    chunk_overlap: int


# mime → config (ingest_config.py:29-38 translated to MIME routes)
CONFIG_BY_MIME: dict[str, ChunkCfg] = {
    "application/pdf": ChunkCfg(800, 120),
    "text/html": ChunkCfg(500, 80),
    "text/plain": ChunkCfg(512, 128),  # .env default 512/128
}
DEFAULT_CFG = ChunkCfg(800, 120)

# routing-rule profiles (document_routing_rules.json:3-94)
CONFIG_BY_PROFILE: dict[str, ChunkCfg] = {
    "legal": ChunkCfg(1024, 256),
    "financial": ChunkCfg(512, 128),
    "technical": ChunkCfg(512, 128),
    "code": ChunkCfg(256, 64),
    "default": ChunkCfg(512, 128),
}


def config_for_mime(mime: str | None) -> ChunkCfg:
    return CONFIG_BY_MIME.get(mime or "", DEFAULT_CFG)
