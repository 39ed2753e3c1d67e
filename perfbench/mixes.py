"""Seeded request sequences for the workloads.

Everything a workload sends is derived here from the workload seed, so
the same seed gives the same requests in the same order.
"""

from __future__ import annotations

import random
from collections.abc import Iterator
from dataclasses import dataclass

EGRESS_QUERIES = (
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q9_profit_by_nation_year",
    "q18_large_volume_customer",
    "window_running_sum",
    "events_session_window",
    "dedup_minhash_lsh",
    "dedup_embedding_topk_grouped",
    "text_tfidf_top_terms",
    "text_quality_score",
    "knn_bruteforce_cosine",
    "pipeline_curate_end_to_end",
)

PROJECTED_STRATEGIES = ("zstd", "gzip", "identity+lz4")
PROJECTED_BATCH_ROWS = (1024, 4096, 16384)
INGEST_NAMES = tuple(f"churn{i}" for i in range(4))
# write/read cycles in which the projected reads cover every pair once
INGEST_ROUND = len(PROJECTED_STRATEGIES) * len(PROJECTED_BATCH_ROWS)


def headers(strategy: str) -> dict[str, str]:
    """Request headers that make the server negotiate ``strategy``."""
    if strategy.startswith("identity+"):
        return {
            "Accept": f'application/vnd.apache.arrow.stream; codecs="{strategy[9:]}"',
            "Accept-Encoding": "identity",
        }
    return {"Accept-Encoding": strategy}


def egress_passes(seed: int) -> Iterator[list[str]]:
    """Endless passes, each a seeded shuffle of every egress query."""
    rng = random.Random(seed)
    while True:
        order = list(EGRESS_QUERIES)
        rng.shuffle(order)
        yield order


@dataclass(frozen=True)
class Write:
    name: str
    offset: int
    multipart: bool


@dataclass(frozen=True)
class Read:
    name: str
    strategy: str
    kind: str  # "fill", "hit" or "projected <coding> <batch rows>"
    columns: tuple[str, ...] | None = None
    batch_rows: int | None = None


def ingest_ops(
    seed: int, source_rows: int, columns: tuple[str, ...], slice_rows: int
) -> Iterator[Write | Read]:
    """Endless write/read cycles: one write of a seeded ``slice_rows``-row
    slice to the next of four names (alternating plain IPC and multipart
    form data), then a plain zstd read that fills the body cache, a
    second one that hits it, and a projected re-chunked read of every
    second column.  Each round of ``INGEST_ROUND`` cycles gives the
    projected reads a seeded shuffle of every (coding, batch size) pair,
    so whole rounds cover all pairs evenly whatever the seed."""
    rng = random.Random(seed)
    combos: list[tuple[str, int]] = []
    i = 0
    while True:
        if not combos:
            combos = [(s, n) for s in PROJECTED_STRATEGIES for n in PROJECTED_BATCH_ROWS]
            rng.shuffle(combos)
        name = INGEST_NAMES[i % len(INGEST_NAMES)]
        yield Write(name, rng.randrange(source_rows - slice_rows + 1), i % 2 == 1)
        yield Read(name, "zstd", "fill")
        yield Read(name, "zstd", "hit")
        strategy, batch_rows = combos.pop()
        yield Read(name, strategy, f"projected {strategy} {batch_rows}", columns[::2], batch_rows)
        i += 1
