"""Seeded input generator shared by every workload.

One generator makes the ``events`` history (the schema of the
repository's test data, kept inside January 2024 because the dashboard
texts hard-code that range)
and the ``documents`` corpus (with planted exact and near duplicates).
The recorder SQLite DB is derived from the same history through
``sources.ha_fixture.render(name, "duckdb")``, so the migration and the
dashboard read one history.

Inputs are written once per (seed, size) under ``.cache/`` next to this
file and reused by later runs with the same key.
"""

from __future__ import annotations

import json
import os
import sqlite3

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
CACHE = os.path.join(HERE, ".cache")

#: history window: all of January 2024, 2024-01-01T00:00:00Z up to
#: 2024-01-31T23:59:59Z
T0_S = 1_704_067_200
T1_S = 1_706_745_600 - 1

EVENT_TYPES = ("click", "view", "purchase", "error", "signup")
WORDS = (
    "agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table value vector window the a of to and sensor home power energy "
    "kitchen hall door light motion humidity pressure garden"
).split()
LANGS = ("en", "en", "en", "de", "es", "fr", "zh")
SOURCES = ("web", "forum", "news", "wiki")

#: recorder DDL: the columns sources.sqlite.read_ha_recorder selects
_DDL = """
CREATE TABLE states (
    state_id INTEGER PRIMARY KEY,
    state TEXT,
    attributes_id INTEGER,
    metadata_id INTEGER,
    last_updated_ts REAL
);
CREATE TABLE states_meta (
    metadata_id INTEGER PRIMARY KEY,
    entity_id TEXT
);
CREATE TABLE state_attributes (
    attributes_id INTEGER PRIMARY KEY,
    shared_attrs TEXT
);
"""

_RECORDER_TABLES = (
    ("states", "ha_states", 5),
    ("states_meta", "ha_states_meta", 2),
    ("state_attributes", "ha_state_attributes", 2),
)


def events_table(seed: int, n_events: int, n_entities: int) -> pa.Table:
    """``events`` rows in event_id order with non-decreasing ``ts``."""
    rng = np.random.default_rng([seed, 1])
    span_us = (T1_S - T0_S) * 1_000_000
    ts_us = T0_S * 1_000_000 + np.sort(rng.integers(0, span_us, n_events))
    return pa.table({
        "event_id": pa.array(np.arange(n_events, dtype=np.int64)),
        "ts": pa.array(ts_us, type=pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_entities, n_events)),
        "event_type": pa.array(
            np.asarray(EVENT_TYPES)[rng.integers(0, len(EVENT_TYPES),
                                                 n_events)]),
        "value": pa.array(np.round(rng.uniform(0.01, 500.0, n_events), 2)),
        "props": pa.array(
            [json.dumps({"k": int(k)})
             for k in rng.integers(0, 100, n_events)]),
    })


def documents_table(seed: int, n_docs: int) -> pa.Table:
    """``documents`` rows; one doc in ten copies an earlier doc verbatim
    and one in ten copies it with a word changed (planted duplicates on
    top of the recrawl corpus the dedup queries derive)."""
    rng = np.random.default_rng([seed, 2])
    words = np.asarray(WORDS)
    texts: list[str] = []
    for i in range(n_docs):
        kind = rng.integers(0, 10) if i > 10 else 9
        if kind == 0:
            texts.append(texts[rng.integers(0, i)])
        elif kind == 1:
            w = texts[rng.integers(0, i)].split(" ")
            w[rng.integers(0, len(w))] = words[rng.integers(0, len(words))]
            texts.append(" ".join(w))
        else:
            n = int(rng.integers(20, 80))
            texts.append(" ".join(words[rng.integers(0, len(words), n)]))
    return pa.table({
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(
            np.asarray(LANGS)[rng.integers(0, len(LANGS), n_docs)]),
        "source": pa.array(
            np.asarray(SOURCES)[rng.integers(0, len(SOURCES), n_docs)]),
        "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
    })


def build_recorder_db(events_path: str, db_path: str) -> None:
    """Recorder SQLite DB from the fixture SQL rendered for DuckDB."""
    import duckdb

    from ha_sqllite_2_influxdb_spark.sources.ha_fixture import render

    tmp = db_path + ".tmp"
    if os.path.exists(tmp):
        os.unlink(tmp)
    duck = duckdb.connect()
    conn = sqlite3.connect(tmp)
    try:
        duck.execute(
            f"CREATE VIEW events AS SELECT * FROM '{events_path}'")
        conn.executescript(_DDL)
        for table, fixture, ncols in _RECORDER_TABLES:
            rows = duck.execute(render(fixture, "duckdb")).fetchall()
            marks = ",".join("?" * ncols)
            conn.executemany(
                f"INSERT INTO {table} VALUES ({marks})", rows)
        conn.commit()
    finally:
        conn.close()
        duck.close()
    os.replace(tmp, db_path)


def inputs(seed: int, n_events: int, n_entities: int, n_docs: int) -> str:
    """Directory holding ``events.parquet``, ``documents.parquet`` and
    ``recorder.db`` for this (seed, size), generating what is missing."""
    out = os.path.join(
        CACHE, f"inputs-s{seed}-e{n_events}-u{n_entities}-d{n_docs}")
    os.makedirs(out, exist_ok=True)
    ev = os.path.join(out, "events.parquet")
    if not os.path.exists(ev):
        pq.write_table(events_table(seed, n_events, n_entities), ev + ".tmp")
        os.replace(ev + ".tmp", ev)
    docs = os.path.join(out, "documents.parquet")
    if not os.path.exists(docs):
        pq.write_table(documents_table(seed, n_docs), docs + ".tmp")
        os.replace(docs + ".tmp", docs)
    db = os.path.join(out, "recorder.db")
    if not os.path.exists(db):
        build_recorder_db(ev, db)
    return out
