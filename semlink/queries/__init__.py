"""Driver-contract query registry (SURVEY §5.2 item 4), split into
per-family modules (VERDICT r03 next #9 — registry hygiene): the
decorator, shared helpers and REGISTRY live here; each family module
registers its queries on import. Registration order = module import
order below + in-module order; the driver-facing priority ordering is
applied in __spark_entry__.py regardless.

Every implemented operator from SURVEY.md §2 (+ the datapipe family)
gets a named entry: a Spark callable (spark, sf_dir) → DataFrame and,
when ANSI-SQL-expressible, a DuckDB oracle string over the driver's
pre-registered views. The driver hashes values order-insensitively
with columns sorted by name, so:

- every computed column is aliased IDENTICALLY on both sides;
- every float output goes through the scaled-bigint convention
  round(x * 1e6)::bigint with the SAME arithmetic expression shape on
  both sides (both engines round ties away from zero for positive
  doubles, and identical IEEE expression trees give identical bits);
- hashes are md5() — identical hex in both engines.

Record-linkage queries run over `documents` as a stand-in corpus
(doc_id → conversation, tokens → turns; the real transcript pipeline
is exercised on fixtures, queries `pipeline_*`, whose oracles are
constant golden tables).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..ops import spread

SCALE = 1_000_000


def _r6(col):
    return F.round(col * SCALE).cast("bigint")


def _cores(spark: SparkSession) -> int:
    return spark.sparkContext.defaultParallelism


def _docs(spark: SparkSession, sf_dir: str, *keys: str) -> DataFrame:
    # spread (ops.spread, keyed by ``keys`` if given): the documents
    # table is one small scan split at bench scale, and nearly every
    # consumer runs a compute-dense stage directly on the scan
    # partitioning (shingle/n-gram explode, Arrow media decode, regex
    # batteries). Consumers whose work does NOT amortize the extra
    # exchange (single explode + one map-side-combined groupBy) read
    # via _docs_raw instead (round-6 PERF diff vs r05: only langid /
    # lang_mix / minhash signatures paid more than they gained).
    return spread(_docs_raw(spark, sf_dir), _cores(spark), *keys)


def _docs_raw(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _read(spark, sf_dir, name):
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


REGISTRY: dict[str, tuple] = {}


def q(name: str, sql: str | None):
    def deco(fn):
        REGISTRY[name] = (fn, sql)
        return fn
    return deco


# Family modules register on import (order defines REGISTRY tail order).
from . import rl        # noqa: E402,F401  record-linkage spine
from . import dedup     # noqa: E402,F401  dedup family (datapipe)
from . import ann       # noqa: E402,F401  similarity search (datapipe)
from . import text      # noqa: E402,F401  text analysis (datapipe)
from . import media     # noqa: E402,F401  multimodal plumbing
from . import rlcov     # noqa: E402,F401  record-linkage coverage tail
from . import linkeval  # noqa: E402,F401  FS weights + blocking quality
from . import mlops     # noqa: E402,F401  ML + ops queries
from . import streamq   # noqa: E402,F401  streaming queries
from . import sampling  # noqa: E402,F401  stratified sampling

# Re-export every registered callable under its function name so
# `from semlink.queries import rl_link_top1` keeps working.
for _fn, _sql in REGISTRY.values():
    globals().setdefault(_fn.__name__, _fn)
del _fn, _sql
