"""Query registry backing ``__spark_entry__.py``.

Each entry pairs a PySpark plan (``(spark, sf_dir) -> DataFrame``) with an
equivalent ANSI-SQL string the DuckDB oracle runs on the same parquet tables
(``sql=None`` → non-SQL-expressible, driver runs a rows-only check).

Cross-engine comparison rules the queries follow:
- every computed column is aliased identically on both sides;
- floating-point *aggregates of doubles* are rounded on both sides (sum order
  differs between engines); ratios-of-integers and interpolations are left
  exact (IEEE ops on identical inputs are bit-identical);
- every top-k/limit query totally orders with explicit tiebreakers so the
  selected row set is engine-independent.
"""

from __future__ import annotations

import atexit
import os
import shutil
import uuid
from dataclasses import dataclass
from typing import Any, Callable, Hashable, Optional

from pyspark.sql import DataFrame, SparkSession

_REPO_ROOT = os.path.dirname(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)

#: Per-process root for persisted-oracle artifacts (learned merges,
#: codebooks, signature tables, ...). The oracle SQL strings are generated
#: at module import, so they embed THIS process's path and Spark-write /
#: DuckDB-read stay consistent; a fixed shared path would let two
#: concurrent runs (bench + verify_local, or different sf_dirs) overwrite
#: each other's artifacts mid-write (r14 ADVICE). Per-process costs no
#: rebuild time: :func:`once` records what each root was built from, and
#: that record lives exactly as long as this root does, so a fresh process
#: rebuilds anyway. Cleaned on exit; roots left by dead processes are
#: reaped on import (mirrors session.py's per-process warehouse discipline).
ORACLE_ARTIFACTS = os.path.join(
    _REPO_ROOT,
    "spark-warehouse",
    f"oracle-artifacts-{os.getpid()}-{uuid.uuid4().hex[:8]}",
)

atexit.register(lambda: shutil.rmtree(ORACLE_ARTIFACTS, ignore_errors=True))


def _reap_stale_artifact_roots() -> None:
    base = os.path.join(_REPO_ROOT, "spark-warehouse")
    try:
        entries = os.listdir(base)
    except OSError:
        return
    for e in entries:
        if not e.startswith("oracle-artifacts-"):
            continue
        try:
            pid = int(e.split("-")[2])
        except (IndexError, ValueError):
            continue
        try:
            os.kill(pid, 0)  # liveness probe only
        except ProcessLookupError:
            shutil.rmtree(os.path.join(base, e), ignore_errors=True)
        except OSError:
            pass  # e.g. EPERM: pid alive under another user — keep


_reap_stale_artifact_roots()

#: name -> (key, value) of every build-once result in this process
_ONCE: dict[str, tuple[Hashable, Any]] = {}


def once(name: str, key: Hashable, build: Callable[[], Any]) -> Any:
    """Return ``build()``'s result for ``name``, running ``build`` only when
    ``name`` is new or was last built from a different ``key``.

    The one build-once rule for plan-side work. Fitted models use a name
    shared by every query that fits them and the full fit parameters as
    ``key`` (``once("pq_books", (sf_dir, 16, 16, 3), fit)``). At-rest
    artifacts use their root path as the name and the input they are built
    from (``sf_dir``, or None for a seeded corpus) as ``key``, and
    ``build`` writes under :data:`ORACLE_ARTIFACTS` — so whatever sits at a
    root is, by construction, what the stored key says it was built from.
    Each name keeps one slot. The entry is stored only after ``build``
    returns, so a failed build is retried on the next call."""
    hit = _ONCE.get(name)
    if hit is not None and hit[0] == key:
        return hit[1]
    value = build()
    _ONCE[name] = (key, value)
    return value

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

#: dimension tables that are always broadcast-small (even at 100 TB the
#: nation/region dimensions stay tiny; part/supplier/customer are left to the
#: autoBroadcastJoinThreshold + AQE decision instead of a hard hint).
BROADCAST_DIMS = frozenset({"region", "nation"})


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {t: spark.read.parquet(f"{sf_dir}/{t}.parquet") for t in TABLES}


@dataclass(frozen=True)
class QueryDef:
    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    sql: Optional[str]
    doc: str = ""


QUERIES: dict[str, QueryDef] = {}


def register(name: str, sql: Optional[str], doc: str = ""):
    """Decorator: add a ``(spark, sf_dir) -> DataFrame`` plan to the registry."""

    def wrap(fn: Callable[[SparkSession, str], DataFrame]):
        QUERIES[name] = QueryDef(name=name, fn=fn, sql=sql, doc=doc)
        return fn

    return wrap
