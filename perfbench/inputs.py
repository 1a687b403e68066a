"""Seeded benchmark inputs.

Everything here is a pure function of ``seed``: the same seed writes
byte-identical tables. The engine only ever sees the written parquet.

- :func:`build_pipeline_input` — the deterministic ``small`` fixture
  (semlink.fixtures) replicated ``REPLICAS`` times. Each replica takes
  whole conversations in seeded order up to ``TURNS_PER_REPLICA`` turns
  and salts their ``conv_id``; block
  keys (surface forms) are shared across replicas, so blocks grow with
  the replica count the way hot surface forms grow in a real corpus.
  ``labeled_pairs`` is remapped the same way, so pairwise F1 is checked
  on the replicated data.
- :func:`build_contract_tables` — small synthetic ``documents``,
  ``part``, ``customer`` and ``events`` tables with the schemas of the
  registry's sf tables, for the record-linkage registry queries.
"""

from __future__ import annotations

import functools
import hashlib
import os
from datetime import datetime, timezone

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REPLICAS = 2
TURNS_PER_REPLICA = 1500         # of the fixture's 24,492 turns


def _h(s: str) -> int:
    return int(hashlib.md5(s.encode("utf-8")).hexdigest()[:12], 16)


@functools.lru_cache(maxsize=1)
def _small_fixture():
    from semlink.fixtures import generate
    return generate("small")


def pipeline_rows(seed: int) -> dict:
    """Python rows of the replicated fixture for ``seed``: each replica
    takes whole conversations in seeded order until it holds
    ``TURNS_PER_REPLICA`` turns, so the input size barely varies."""
    fx = _small_fixture()
    turns: dict[str, int] = {}
    for t in fx.transcripts:
        turns[t[0]] = turns.get(t[0], 0) + 1
    transcripts, labeled = [], []
    for rep in range(REPLICAS):
        keep, n = set(), 0
        for c in sorted(turns, key=lambda c: _h(f"{seed}:{rep}:{c}")):
            if n >= TURNS_PER_REPLICA:
                break
            keep.add(c)
            n += turns[c]
        salt = f"{_h(f'salt:{seed}:{rep}'):012x}"[:8]

        def remap(mention_id: str) -> str:
            conv, rest = mention_id.split(":", 1)
            return f"{conv}-{salt}:{rest}"

        transcripts.extend((f"{c}-{salt}",) + tuple(rest)
                           for c, *rest in fx.transcripts if c in keep)
        labeled.extend(
            (remap(l), remap(r), block, label)
            for l, r, block, label in fx.labeled_pairs
            if l.split(":", 1)[0] in keep and r.split(":", 1)[0] in keep)
    return {"transcripts": transcripts, "anchors": fx.anchors,
            "page_links": fx.page_links, "labeled_pairs": labeled}


_ARROW_TYPES = {"string": pa.string(), "int": pa.int32(), "long": pa.int64(),
                "boolean": pa.bool_(), "timestamp": pa.timestamp("us", "UTC")}


def _arrow_schema(ddl: str) -> pa.Schema:
    cols = (c.split() for c in ddl.split(","))
    return pa.schema([(name, _ARROW_TYPES[typ]) for name, typ in cols])


def build_pipeline_input(rows: dict, out_dir: str) -> dict:
    """Write the fixture rows as parquet; return {name: path}."""
    from semlink.fixtures import Fixture
    os.makedirs(out_dir, exist_ok=True)
    paths = {}
    for name, data in rows.items():
        schema = _arrow_schema(Fixture.SCHEMAS[name])
        table = pa.Table.from_pylist(
            [dict(zip(schema.names, r)) for r in data], schema=schema)
        paths[name] = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, paths[name])
    return paths


# ------------------------------------------------------ contract tables

DOC_WORDS = ("a agg batch big column customer data dup fast filter group "
             "hash join key line merge order part query row scan slow "
             "small sort spark stream table the value vector window").split()
LANGS = ["en", "es", "zh", "de", "fr"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
PART_ADJ = "blue cold hot large new old red small".split()
PART_NOUN = "anvil bolt gear gizmo plate ring rod widget".split()
PART_TYPES = ["ECONOMY", "LARGE", "STANDARD", "MEDIUM", "SMALL", "PROMO"]
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "FURNITURE", "HOUSEHOLD", "BUILDING"]
EVENT_TYPES = ["click", "signup", "error", "view", "purchase"]

N_DOCS, N_PARTS, N_CUSTOMERS, N_EVENTS, N_USERS = 500, 200, 150, 1000, 15


def contract_tables(seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed % 2**64)    # numpy takes no negative seed

    n_words = rng.integers(8, 90, N_DOCS)
    texts = [" ".join(rng.choice(DOC_WORDS, k)) for k in n_words]
    documents = pa.table({
        "doc_id": pa.array(np.arange(N_DOCS), pa.int64()),
        "text": texts,
        "lang": list(rng.choice(LANGS, N_DOCS, p=LANG_P)),
        "source": [f"src{i}" for i in rng.integers(0, 20, N_DOCS)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })

    part = pa.table({
        "p_partkey": pa.array(np.arange(N_PARTS), pa.int64()),
        "p_name": [f"{a} {n}" for a, n in zip(
            rng.choice(PART_ADJ, N_PARTS), rng.choice(PART_NOUN, N_PARTS))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, N_PARTS)],
        "p_type": list(rng.choice(PART_TYPES, N_PARTS)),
        "p_size": pa.array(rng.integers(1, 51, N_PARTS), pa.int32()),
        "p_retailprice": np.round(900 + np.arange(N_PARTS) * 0.1, 1),
    })

    customer = pa.table({
        "c_custkey": pa.array(np.arange(N_CUSTOMERS), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(N_CUSTOMERS)],
        "c_nationkey": pa.array(rng.integers(0, 25, N_CUSTOMERS), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, N_CUSTOMERS), 2),
        "c_mktsegment": list(rng.choice(SEGMENTS, N_CUSTOMERS)),
    })

    start_us = int(datetime(2024, 1, 1, tzinfo=timezone.utc).timestamp() * 1e6)
    offsets = np.sort(rng.integers(0, 30 * 86400 * 10**6, N_EVENTS))
    events = pa.table({
        "event_id": pa.array(np.arange(N_EVENTS), pa.int64()),
        "ts": pa.array(start_us + offsets, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, N_USERS, N_EVENTS), pa.int64()),
        "event_type": list(rng.choice(EVENT_TYPES, N_EVENTS)),
        "value": np.round(rng.exponential(50.0, N_EVENTS) + 0.01, 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, N_EVENTS)],
    })
    return {"documents": documents, "part": part, "customer": customer,
            "events": events}


def build_contract_tables(seed: int, out_dir: str) -> str:
    """Write the seeded tables as ``<out_dir>/<name>.parquet``."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in contract_tables(seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir
