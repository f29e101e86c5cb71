"""Fixed inputs of the operator-leaf probe, and its result digest.

Every traced run times the leaves below through
``queries_map()``. The tables under ``data/sf0.1`` are copies of three
of the repo's read-only sf0.1 test tables (documents, events,
embeddings); they are never regenerated, so this input does not depend
on the seed.
``pins.json`` holds each query's expected result, computed once from its
DuckDB ``oracle_sql()`` by ``pin_queries.py``.
"""

from __future__ import annotations

import hashlib
import json
import math
import os

HERE = os.path.dirname(os.path.abspath(__file__))
DATA_DIR = os.path.join(HERE, "data", "sf0.1")
PINS_PATH = os.path.join(HERE, "pins.json")
TABLES = ("documents", "events", "embeddings")

# Costly kernel leaves with open perf work: the two largest leaves and
# the carried winnowing/bloom targets, the LSH-bucket and vocab_stats
# engine choices, and the three leaves that call the template matcher
# (template_cooccurrence, induced_templates, mask_signature).
QUERIES = (
    "winnowing_neardup_pairs",
    "edit_distance_pairs",
    "bloom_decontamination",
    "embedding_topk_lsh",
    "vocab_stats",
    "template_cooccurrence",
    "induced_templates",
    "mask_signature",
)


def _norm(v):
    # same normalisation as the repo's oracle gate: floats to 6 places,
    # NaN as NULL, lists and maps as tuples
    if isinstance(v, float):
        return None if math.isnan(v) else round(v, 6)
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _norm(x)) for k, x in v.items()))
    return v


def digest(columns: list[str], rows: list[tuple]) -> dict:
    """Row count and an order-insensitive value hash of a result.

    ``rows`` hold values in ``columns`` order; columns are compared by
    name, so the engines may emit them in any order.
    """
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    normed = sorted((repr(tuple(_norm(r[i]) for i in order)) for r in rows))
    h = hashlib.sha256()
    h.update(repr([columns[i] for i in order]).encode())
    for line in normed:
        h.update(line.encode())
        h.update(b"\n")
    return {"rows": len(rows), "sha256": h.hexdigest()}


def load_pins() -> dict[str, dict]:
    with open(PINS_PATH) as f:
        return json.load(f)
