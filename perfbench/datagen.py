"""Seeded input generators. The same seed always yields the same inputs, and
every table size is fixed by the scale, not by the seed.

* ``events_df`` / ``users_df``: Spark-side generation (hash of row id and
  seed), staged through the program's own Delta writer by the workloads.
* ``user_batch``: one upsert batch — distinct existing keys spread over the
  whole key range (so every data file holds a match) plus new keys.
* ``write_query_tables``: the TPC-H-style star schema plus ``documents`` and
  ``embeddings`` that the query mix reads, generated with numpy and written
  by Spark as one parquet directory per table.
"""

from __future__ import annotations

import os

import numpy as np

EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
PLANS = ["free", "pro", "team", "enterprise"]
USER_COLUMNS = ["user_id", "rev", "name", "plan", "score", "props"]
# Exported user-property shape, JSON-formatted per row by the export.
USER_PROPERTY_SQL = """
    SELECT user_id,
           rev,
           named_struct('name', name, 'plan', plan, 'score', score,
                        'country', get_json_object(props, '$.country'))
             AS user_properties
    FROM users
"""

_EPOCH_2024_US = 1_704_067_200_000_000
_MONTH_US = 30 * 86_400 * 1_000_000


def _h(F, seed: int, salt: int):
    return F.abs(F.xxhash64(F.col("id"), F.lit(seed), F.lit(salt)))


def events_df(spark, seed: int, n_rows: int):
    """``events`` with the testdata schema: event_id, ts, user_id,
    event_type, value, props (a JSON string carrying ``k``)."""
    from pyspark.sql import functions as F

    h = lambda salt: _h(F, seed, salt)  # noqa: E731
    return spark.range(n_rows).select(
        F.col("id").alias("event_id"),
        F.timestamp_micros(F.lit(_EPOCH_2024_US) + h(1) % F.lit(_MONTH_US))
        .alias("ts"),
        (h(2) % 50_000).alias("user_id"),
        F.element_at(F.array(*[F.lit(t) for t in EVENT_TYPES]),
                     (h(3) % len(EVENT_TYPES) + 1).cast("int"))
        .alias("event_type"),
        F.round((h(4) % 100_000) / 100.0, 2).alias("value"),
        F.concat(F.lit('{"k": '), (h(5) % 100).cast("string"), F.lit("}"))
        .alias("props"))


def users_df(spark, seed: int, n_rows: int):
    """Base ``users`` property table at rev 0, keys 0..n_rows-1."""
    from pyspark.sql import functions as F

    h = lambda salt: _h(F, seed, salt)  # noqa: E731
    return spark.range(n_rows).select(
        F.col("id").alias("user_id"),
        F.lit(0).cast("bigint").alias("rev"),
        F.concat(F.lit("user_"), F.col("id").cast("string")).alias("name"),
        F.element_at(F.array(*[F.lit(p) for p in PLANS]),
                     (h(1) % len(PLANS) + 1).cast("int")).alias("plan"),
        F.round((h(2) % 100_000) / 100.0, 2).alias("score"),
        F.concat(F.lit('{"country": "c'), (h(3) % 50).cast("string"),
                 F.lit('"}')).alias("props"))


def user_batch(seed: int, cycle: int, existing_keys: int, n_updates: int,
               n_inserts: int):
    """Rows of upsert cycle ``cycle`` (all at ``rev == cycle``): distinct
    updated keys drawn uniformly from ``[0, existing_keys)`` plus inserted
    keys ``existing_keys ..``. Returns a pandas DataFrame in table order."""
    import pandas as pd

    rng = np.random.default_rng([seed, cycle])
    updated = rng.choice(existing_keys, size=n_updates, replace=False)
    inserted = np.arange(existing_keys, existing_keys + n_inserts)
    keys = np.concatenate([updated, inserted]).astype(np.int64)
    n = len(keys)
    return pd.DataFrame({
        "user_id": keys,
        "rev": np.full(n, cycle, dtype=np.int64),
        "name": [f"user_{k}" for k in keys],
        "plan": rng.choice(PLANS, size=n),
        "score": np.round(rng.integers(0, 100_000, size=n) / 100.0, 2),
        "props": [f'{{"country": "c{c}"}}' for c in rng.integers(0, 50, n)],
    })[USER_COLUMNS]


_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_WORDS = ("a agg batch big column data fast filter group hash index join key "
          "line merge order part query row scan shard slow small sort spark "
          "stream table value vector window cache delta lake file commit log "
          "sink source plan stage task shuffle spill page block").split()


def _dates(rng, n: int, start: str, days: int):
    base = np.datetime64(start, "us")
    return base + rng.integers(0, days, n).astype("timedelta64[D]")


def query_table_rows(scale: float) -> dict[str, int]:
    """Row count of every query-mix table at ``scale`` (1.0 = full)."""
    return {
        "region": 5, "nation": 25,
        "customer": int(1500 * scale), "supplier": max(25, int(100 * scale)),
        "orders": int(15_000 * scale), "lineitem": int(60_000 * scale),
        "documents": int(1000 * scale), "embeddings": int(1000 * scale),
    }


def write_query_tables(spark, out_dir: str, seed: int,
                       scale: float) -> dict[str, int]:
    """Write ``<out_dir>/<table>.parquet`` (a Spark parquet directory) for
    every query-mix table; returns the row counts."""
    import pyarrow as pa

    rows = query_table_rows(scale)
    rng = np.random.default_rng(seed)
    i32, i64 = pa.int32(), pa.int64()

    def money(n, lo, hi):
        return np.round(rng.uniform(lo, hi, n), 2)

    tables: dict[str, pa.Table] = {}
    tables["region"] = pa.table({
        "r_regionkey": pa.array(range(5), i32), "r_name": _REGIONS})
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32)})
    nc, ns = rows["customer"], rows["supplier"]
    tables["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(nc), i64),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), i32),
        "c_acctbal": money(nc, -999.99, 9999.99),
        "c_mktsegment": rng.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"],
            nc)})
    tables["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(ns), i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), i32),
        "s_acctbal": money(ns, -999.99, 9999.99)})
    no, nl = rows["orders"], rows["lineitem"]
    tables["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(no), i64),
        "o_custkey": pa.array(rng.integers(0, nc, no), i64),
        "o_orderstatus": rng.choice(["O", "F", "P"], no),
        "o_totalprice": money(no, 800.0, 400_000.0),
        "o_orderdate": _dates(rng, no, "1992-01-01", 2400),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], no)})
    l_order = np.sort(rng.integers(0, no, nl))
    first = np.r_[True, l_order[1:] != l_order[:-1]]
    run_start = np.maximum.accumulate(np.where(first, np.arange(nl), 0))
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(l_order, i64),
        "l_partkey": pa.array(rng.integers(0, 20_000, nl), i64),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), i64),
        "l_linenumber": pa.array(np.arange(nl) - run_start + 1, i32),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": money(nl, 900.0, 105_000.0),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], nl),
        "l_linestatus": rng.choice(["O", "F"], nl),
        "l_shipdate": _dates(rng, nl, "1992-01-02", 2550)})

    nd = rows["documents"]
    texts: list[str] = []
    for i in range(nd):
        if i >= 10 and i % 8 == 0:
            # near-duplicate of an earlier document: one word replaced
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = str(
                rng.choice(_WORDS))
        else:
            words = list(rng.choice(_WORDS, int(rng.integers(8, 60))))
        texts.append(" ".join(words))
    tables["documents"] = pa.table({
        "doc_id": pa.array(np.arange(nd), i64), "text": texts,
        "lang": rng.choice(["en", "de", "fr", "es", "zh"], nd),
        "source": [f"src{i % 5}" for i in range(nd)],
        "n_chars": pa.array([len(t) for t in texts], i64)})

    ne, dim = rows["embeddings"], 64
    centers = rng.normal(size=(10, dim))
    labels = rng.integers(0, 10, ne)
    vecs = centers[labels] + rng.normal(scale=1.5, size=(ne, dim))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    tables["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(ne), i64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, i32)})

    for name, table in tables.items():
        spark.createDataFrame(table).write.parquet(
            os.path.join(out_dir, f"{name}.parquet"))
    return rows
