"""DuckDB oracle registry: ANSI-SQL twins for oracle_sql().

Each statement runs against pre-registered views (region nation customer
supplier part orders lineitem events documents embeddings) and must
match the Spark result on row-count + schema + order-insensitive
value-hash. See queries.py module doc for the cross-engine determinism
rules (decimal-cast sums, epoch-millis timestamps, unique tiebreaks).

SQL text lives in the per-domain modules (oracles_warehouse /
oracles_pipeline / oracles_events / oracles_docs / oracles_vectors);
this module merges them and derives window membership from the
declared QUERIES window: ORACLES is exactly the oracle-backed subset
of the driver's 50-query window, EXTRA_ORACLES everything else.

Queries intentionally absent (rows-only driver check): engine-side
LSH/sketch/randomized operators whose exact twins are the
oracle-checkable ground truth — see the EXTRA_QUERIES notes in
queries.py.
"""

from __future__ import annotations

from .oracles_docs import SQL as _DOCS
from .oracles_events import SQL as _EVENTS
from .oracles_pipeline import SQL as _PIPELINE
from .oracles_vectors import SQL as _VECTORS
from .oracles_warehouse import SQL as _WAREHOUSE
from .queries import QUERIES

ALL_SQL: dict[str, str] = {
    **_WAREHOUSE, **_PIPELINE, **_EVENTS, **_DOCS, **_VECTORS}

ORACLES: dict[str, str] = {
    k: ALL_SQL[k] for k in QUERIES if k in ALL_SQL}
EXTRA_ORACLES: dict[str, str] = {
    k: v for k, v in ALL_SQL.items() if k not in ORACLES}
