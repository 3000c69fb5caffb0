"""The three benchmark workloads.

Each workload stages its inputs with the program's own writers, runs one kind
of operation in a closed loop (one client, the next op starts when the last
one returned), and checks every op's output after the loop, untimed:

* ``snapshot_export`` — initial sync: ``plans.pipeline.run_unload`` with
  ``start == 0`` (time-travel snapshot) of a seeded ``events`` Delta table,
  through ``FLAGSHIP_SQL``, written as zstd Parquet.
* ``upsert_export`` — steady-state incremental sync: a seeded
  ``sinks.delta_writer.merge_into`` into a CDF-enabled ``users`` table,
  then a ``USER_PROPERTY`` JSON export of exactly the version it committed.
* ``query_mix`` — a pass over a seed-ordered list of ``querylib`` queries,
  each materialized, each result hash-checked against its DuckDB twin.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import random
import shutil
import statistics
import time
from dataclasses import dataclass, field
from decimal import ROUND_HALF_UP, Decimal
from typing import Any

from datagen import (USER_COLUMNS, USER_PROPERTY_SQL, events_df, user_batch,
                     users_df, write_query_tables)

from databricks_import_pyspark_scripts_spark.plans import pipeline
from databricks_import_pyspark_scripts_spark.plans.flagship import FLAGSHIP_SQL
from databricks_import_pyspark_scripts_spark.querylib import REGISTRY
from databricks_import_pyspark_scripts_spark.querylib import _load as _load_registry
from databricks_import_pyspark_scripts_spark.sinks import delta_writer

# Sizes per scale. "full" is what the benchmark measures; "tiny" is the
# self-test's. The full sizes are scaled down from a production-sized sync
# so that one run, set-up included, fits the benchmark's time budget on a
# 4-core host. At 500k events, per-row work is about four fifths of a
# snapshot export (the traced run reports the split); the upsert and query
# ops cost about the same at less than half their sizes, being made of
# per-job and per-export fixed costs.
SCALES = {
    "full": {"events": 500_000, "users": 50_000, "user_file_rows": 5_000,
             "updates": 500, "inserts": 125, "query_scale": 0.3},
    "tiny": {"events": 20_000, "users": 5_000, "user_file_rows": 500,
             "updates": 100, "inserts": 25, "query_scale": 0.1},
}

FLAGSHIP_SCHEMA = (
    "struct<time:bigint,user_id:bigint,event_type:string,"
    "user_properties:struct<value:double,prop_k:bigint>,"
    "groups:struct<group_A:array<string>>,"
    "group_properties:struct<group_B:struct<prop_A:array<string>>>>")

QUERY_TABLES = {
    "q5_region_supplier_volume": ("customer", "orders", "lineitem",
                                  "supplier", "nation", "region"),
    "window_topk_per_group": ("lineitem",),
    "dedup_minhash_lsh": ("documents",),
    "similarity_topk_bruteforce": ("embeddings",),
    "text_bm25_search": ("documents",),
}


@dataclass
class OpRecord:
    index: int
    wall_s: float
    rows: int
    parts: dict[str, float] = field(default_factory=dict)
    payload: dict[str, Any] = field(default_factory=dict)


def _part_files(out_dir: str) -> list[str]:
    return sorted(p for p in glob.glob(os.path.join(out_dir, "part-*"))
                  if not p.endswith(".crc"))


def _output_counters(out_dir: str, rows: int) -> dict[str, float]:
    files = _part_files(out_dir)
    size = sum(os.path.getsize(p) for p in files)
    return {"sinks.output_files": len(files),
            "sinks.bytes_per_row": size / rows if rows else 0.0}


def _commits_in_log(table: str) -> int:
    return len(glob.glob(os.path.join(table, "_delta_log", "*.json")))


def _read_meta(out_dir: str) -> dict:
    with open(os.path.join(out_dir, "meta"), encoding="utf-8") as fh:
        return json.load(fh)


def _stat(xs: list[float]) -> dict:
    return {"p50_s": statistics.median(xs) if xs else 0.0, "samples": len(xs)}


def per_s(ops: list[OpRecord], times: list[float]) -> float:
    """Median over ops of rows delivered per second."""
    return (statistics.median(r.rows / t for r, t in zip(ops, times))
            if ops else 0.0)


def _delete_largest_part(out_dir: str) -> None:
    files = _part_files(out_dir)
    os.remove(max(files, key=os.path.getsize))


class Workload:
    """Stage -> ops -> prepare the checks -> check. ``rows`` of an op is
    the number of rows it delivers (exported, or read by the queries)."""

    name = ""
    op_label = "op"
    warmup_ops = 0

    def __init__(self, seed: int, scale: str, tracer) -> None:
        self.seed = seed
        self.size = SCALES[scale]
        self.tracer = tracer
        self.work_dir = ""

    def stage(self, spark, work_dir: str) -> None:
        raise NotImplementedError

    def prepare(self, spark) -> None:
        """Untimed, after the loop: compute what the output checks compare
        against."""

    def run_op(self, spark, index: int) -> OpRecord:
        raise NotImplementedError

    def check(self, spark, rec: OpRecord) -> list[str]:
        raise NotImplementedError

    def corrupt(self, spark, rec: OpRecord) -> None:
        """Damage one op's output, so the self-test can see it counted."""
        raise NotImplementedError

    def fixed_cost(self, spark, work_dir: str, ops: list[OpRecord]) -> dict:
        """Traced run only, untimed: how op time splits between fixed cost
        and per-row work, where the workload can tell."""
        return {}

    def layer_counters(self, spark, rec: OpRecord) -> dict[str, float]:
        """Untimed per-op counters read after a traced op."""
        return {}

    def split(self, first: OpRecord, ops: list[OpRecord]) -> dict:
        """The loop's ops named as a user of the system would, each timing
        with its sample count."""
        raise NotImplementedError

    def cleanup(self, rec: OpRecord) -> None:
        out = rec.payload.get("out")
        if out:
            shutil.rmtree(out, ignore_errors=True)

    def _unload(self, spark, job) -> dict:
        """run_unload with the SparkSession.sql call traced as plans.sql."""
        tracer = self.tracer
        if tracer.enabled:
            original = spark.sql

            def traced_sql(*args, **kwargs):
                with tracer.span("plans.sql"):
                    return original(*args, **kwargs)

            spark.sql = traced_sql
        try:
            with tracer.span("plans.run_unload"):
                return pipeline.run_unload(spark, job)
        finally:
            if tracer.enabled:
                del spark.sql


class SnapshotExport(Workload):
    name = "snapshot_export"
    op_label = "export"
    warmup_ops = 1

    def stage(self, spark, work_dir: str) -> None:
        self.work_dir = work_dir
        self.root = os.path.join(work_dir, "src")
        delta_writer.create_delta_table(
            spark, events_df(spark, self.seed, self.size["events"]),
            os.path.join(self.root, "events"), cdf=True)

    def prepare(self, spark) -> None:
        from pyspark.sql import functions as F

        row = events_df(spark, self.seed, self.size["events"]).agg(
            F.count(F.lit(1)), F.sum("user_id"), F.sum(F.unix_millis("ts")),
            F.sum(F.expr("CAST(get_json_object(props, '$.k') AS BIGINT)")),
        ).first()
        self.expected = tuple(int(v) for v in row)

    def run_op(self, spark, index: int) -> OpRecord:
        out = os.path.join(self.work_dir, "out", f"op{index}")
        job = pipeline.UnloadJob(
            source_root=self.root, table_versions={"events": [0, 0]},
            sql=FLAGSHIP_SQL, output_path=out, data_type="EVENT",
            fmt="parquet")
        t0 = time.perf_counter()
        report = self._unload(spark, job)
        wall = time.perf_counter() - t0
        return OpRecord(index, wall, int(report["rows"]), payload={"out": out})

    def check(self, spark, rec: OpRecord) -> list[str]:
        out = rec.payload["out"]
        problems = []
        n = self.expected[0]
        if rec.rows != n:
            problems.append(f"run_unload reported {rec.rows} rows, generated {n}")
        meta = _read_meta(out)
        if meta.get("event_count") != n:
            problems.append(f"meta event_count {meta.get('event_count')} != {n}")
        files = _part_files(out)
        if not files:
            return problems + ["no output files"]
        import pyarrow.compute as pc
        import pyarrow.parquet as pq
        from pyspark.sql.pandas.types import from_arrow_schema

        # the schema Spark reads the files with, without a Spark job
        schemas = {from_arrow_schema(pq.read_schema(f)).simpleString()
                   for f in files}
        if schemas != {FLAGSHIP_SCHEMA}:
            return problems + [f"schemas {sorted(schemas)}"]
        table = pq.read_table(files, columns=["user_id", "time",
                                              "user_properties"])
        props = table.column("user_properties").combine_chunks()
        got = (table.num_rows,
               *(int(pc.sum(c).as_py() or 0) for c in (
                   table.column("user_id"), table.column("time"),
                   props.field("prop_k"))))
        if got != self.expected:
            problems.append(f"read back (rows, sum user_id, sum time, sum k) "
                            f"{got} != generated {self.expected}")
        return problems

    def corrupt(self, spark, rec: OpRecord) -> None:
        _delete_largest_part(rec.payload["out"])

    def fixed_cost(self, spark, work_dir: str, ops: list[OpRecord]) -> dict:
        """Export a 1000-row copy of the table a few times: its median is
        the fixed cost of an export, the rest of the loop's export median
        is per-row work."""
        fixed = SnapshotExport(self.seed, "full", self.tracer)
        fixed.size = dict(self.size, events=1000)
        fixed.stage(spark, work_dir)
        times = []
        for i in range(3):
            rec = fixed.run_op(spark, i)
            times.append(rec.wall_s)
            fixed.cleanup(rec)
        fixed_s = statistics.median(times)
        op_s = statistics.median(r.wall_s for r in ops)
        return {"fixed_export": _stat(times),
                "per_row_share": 1 - fixed_s / op_s,
                "per_row_us": (op_s - fixed_s) / self.size["events"] * 1e6}

    def split(self, first: OpRecord, ops: list[OpRecord]) -> dict:
        times = [r.wall_s for r in ops]
        return {"first_export_s": first.wall_s, "export": _stat(times),
                "export_rows_per_s": per_s(ops, times)}

    def layer_counters(self, spark, rec: OpRecord) -> dict[str, float]:
        return {"sources.commits_in_log":
                _commits_in_log(os.path.join(self.root, "events")),
                **_output_counters(rec.payload["out"], rec.rows)}


class UpsertExport(Workload):
    name = "upsert_export"
    op_label = "cycle"
    warmup_ops = 1
    UPDATE = {c: f"s.{c}" for c in USER_COLUMNS if c != "user_id"}

    def stage(self, spark, work_dir: str) -> None:
        """Create the table (version 0), then append cycle 1's new users
        (version 1): measured cycles commit version >= 2, so every export
        range ``[v-1, v]`` starts at >= 1 and reads the change feed
        (``start == 0`` would mean a full snapshot)."""
        self.work_dir = work_dir
        self.root = os.path.join(work_dir, "src")
        self.table = os.path.join(self.root, "users")
        delta_writer.create_delta_table(
            spark, users_df(spark, self.seed, self.size["users"]), self.table,
            cdf=True, max_records_per_file=self.size["user_file_rows"])
        self.keys = self.size["users"]
        _, inserts = self._batch(spark, 1, updates=0)
        delta_writer.append_delta(spark, inserts, self.table)
        self.keys += self.size["inserts"]

    def _batch(self, spark, cycle: int, updates: int | None = None):
        pdf = user_batch(self.seed, cycle, self.keys,
                         self.size["updates"] if updates is None else updates,
                         self.size["inserts"])
        from pyspark.sql.types import StructType

        schema = StructType.fromDDL(
            "user_id bigint, rev bigint, name string, plan string, "
            "score double, props string")
        return pdf, spark.createDataFrame(pdf, schema=schema)

    def run_op(self, spark, index: int) -> OpRecord:
        cycle = index + 2
        pdf, batch = self._batch(spark, cycle)
        out = os.path.join(self.work_dir, "out", f"op{index}")
        t0 = time.perf_counter()
        with self.tracer.span("sinks.merge_into"):
            version = delta_writer.merge_into(
                spark, self.table, batch, on=["user_id"],
                when_matched_update=self.UPDATE)
        t1 = time.perf_counter()
        self.keys += self.size["inserts"]
        job = pipeline.UnloadJob(
            source_root=self.root,
            table_versions={"users": [version - 1, version]},
            sql=USER_PROPERTY_SQL, output_path=out,
            data_type="USER_PROPERTY", fmt="json")
        report = self._unload(spark, job)
        t2 = time.perf_counter()
        return OpRecord(
            index, t2 - t0, len(pdf),
            parts={"commit_s": t1 - t0, "export_s": t2 - t1},
            payload={"out": out, "version": version, "cycle": cycle,
                     "keys": set(int(k) for k in pdf["user_id"]),
                     "reported": int(report["rows"])})

    def check(self, spark, rec: OpRecord) -> list[str]:
        p = rec.payload
        problems = []
        expected = len(p["keys"])
        if p["reported"] != expected:
            problems.append(f"run_unload reported {p['reported']} rows, "
                            f"expected {expected} (updated keys + inserts)")
        meta = _read_meta(p["out"])
        if meta.get("event_count") != expected:
            problems.append(f"meta event_count {meta.get('event_count')} "
                            f"!= {expected}")
        rows = []
        for path in _part_files(p["out"]):
            with open(path, encoding="utf-8") as fh:
                rows.extend(json.loads(line) for line in fh if line.strip())
        ids = [r["user_id"] for r in rows]
        if len(ids) != expected or set(ids) != p["keys"]:
            problems.append(f"exported {len(ids)} rows / {len(set(ids))} keys,"
                            f" expected exactly the {expected} batch keys")
        stale = sum(1 for r in rows if r["rev"] != p["cycle"])
        if stale:
            problems.append(f"{stale} rows not at latest rev {p['cycle']}")
        return problems

    def corrupt(self, spark, rec: OpRecord) -> None:
        _delete_largest_part(rec.payload["out"])

    def split(self, first: OpRecord, ops: list[OpRecord]) -> dict:
        commits = [r.parts["commit_s"] for r in ops]
        exports = [r.parts["export_s"] for r in ops]
        return {"first_cycle_s": first.wall_s,
                "commit": _stat(commits), "export": _stat(exports),
                "commit_rows_per_s": per_s(ops, commits),
                "export_rows_per_s": per_s(ops, exports)}

    def layer_counters(self, spark, rec: OpRecord) -> dict[str, float]:
        log = os.path.join(self.table, "_delta_log",
                           f"{rec.payload['version']:020d}.json")
        removed = added = written = 0
        with open(log, encoding="utf-8") as fh:
            for line in fh:
                action = json.loads(line)
                if "remove" in action:
                    removed += 1
                elif "add" in action:
                    added += 1
                    stats = json.loads(action["add"].get("stats") or "{}")
                    written += int(stats.get("numRecords", 0))
        return {"sinks.merge.files_rewritten": removed,
                "sinks.merge.files_added": added,
                "sinks.merge.rewrite_amplification": written / rec.rows,
                "sources.commits_in_log": _commits_in_log(self.table),
                **_output_counters(rec.payload["out"], rec.payload["reported"])}


def _bm25_score(row: dict) -> float:
    return float(Decimal(row["score_fx"]).scaleb(-6).quantize(
        Decimal("0.0001"), rounding=ROUND_HALF_UP))


# Oracle columns that DuckDB does not compute exactly, recomputed from
# integer columns of the same row with exact decimal arithmetic before the
# oracle's result is hashed. text_bm25_search: ``score`` is
# ROUND(score_fx / 1e6, 4). DuckDB rounds the binary double, so a score_fx
# ending in 50 can round down (3196550 -> 3.1965); the exact value of the
# expression, and Spark's, rounds half up (3.1966). score_fx itself is
# integer-exact in both engines and still compared as the oracle gives it.
EXACT_ORACLE_COLUMNS = {
    "text_bm25_search": {"score": _bm25_score},
}


def _exact_oracle_rows(query: str, columns: list[str],
                       rows: list[tuple]) -> list[tuple]:
    exact = EXACT_ORACLE_COLUMNS.get(query)
    if not exact:
        return rows
    out = []
    for r in rows:
        named = dict(zip(columns, r))
        out.append(tuple(exact[c](named) if c in exact else v
                         for c, v in zip(columns, r)))
    return out


def _norm(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(v)
    if isinstance(v, (int, float, Decimal)) or hasattr(v, "dtype"):
        return repr(float(v))
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_norm(x) for x in v) + "]"
    return str(v)


def result_hash(columns: list[str], rows: list[tuple]) -> str:
    """Order-insensitive hash of a result: columns sorted by name, values
    normalized (every number as a float), rows sorted."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted("|".join(_norm(r[i]) for i in order) for r in rows)
    h = hashlib.sha256("|".join(columns[i] for i in order).encode())
    for line in lines:
        h.update(b"\n" + line.encode())
    return h.hexdigest()


class QueryMix(Workload):
    name = "query_mix"
    op_label = "pass"

    def __init__(self, seed: int, scale: str, tracer) -> None:
        super().__init__(seed, scale, tracer)
        _load_registry()
        self.queries = sorted(QUERY_TABLES)
        random.Random(seed).shuffle(self.queries)

    def stage(self, spark, work_dir: str) -> None:
        self.work_dir = work_dir
        self.data = os.path.join(work_dir, "tables")
        self.table_rows = write_query_tables(spark, self.data, self.seed,
                                             self.size["query_scale"])
        self.input_rows = sum(self.table_rows[t] for q in self.queries
                              for t in QUERY_TABLES[q])

    def prepare(self, spark) -> None:
        import duckdb

        con = duckdb.connect()
        try:
            for t in self.table_rows:
                path = os.path.join(self.data, f"{t}.parquet", "*.parquet")
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                            f"read_parquet('{path}')")
            self.oracle = {}
            for q in self.queries:
                cur = con.execute(REGISTRY[q].oracle)
                cols = [d[0] for d in cur.description]
                self.oracle[q] = result_hash(
                    cols, _exact_oracle_rows(q, cols, cur.fetchall()))
        finally:
            con.close()

    def run_op(self, spark, index: int) -> OpRecord:
        results: dict[str, tuple[list[str], list]] = {}
        parts: dict[str, float] = {}
        t0 = time.perf_counter()
        for q in self.queries:
            tq = time.perf_counter()
            with self.tracer.span(f"querylib.{q}"):
                df = REGISTRY[q].spark_fn(spark, self.data)
                rows = df.collect()
            parts[q] = time.perf_counter() - tq
            results[q] = (df.columns, rows)
        wall = time.perf_counter() - t0
        # keep only the hashes: the results would count in the run's memory
        hashes = {q: result_hash(cols, [tuple(r) for r in rows])
                  for q, (cols, rows) in results.items()}
        return OpRecord(index, wall, self.input_rows, parts=parts,
                        payload={"hashes": hashes})

    def check(self, spark, rec: OpRecord) -> list[str]:
        return [f"{q}: result hash differs from the DuckDB oracle"
                for q, h in rec.payload["hashes"].items()
                if h != self.oracle[q]]

    def split(self, first: OpRecord, ops: list[OpRecord]) -> dict:
        return {"first_pass_s": first.wall_s,
                "mix_pass": _stat([r.wall_s for r in ops]),
                "query_p50_s": {q: _stat([r.parts[q] for r in ops])["p50_s"]
                                for q in self.queries}}

    def corrupt(self, spark, rec: OpRecord) -> None:
        """Replace one query's hash by that of its result less one row."""
        q = self.queries[0]
        df = REGISTRY[q].spark_fn(spark, self.data)
        rows = [tuple(r) for r in df.collect()]
        rec.payload["hashes"][q] = result_hash(
            df.columns, rows[:-1] if rows else [(None,) * len(df.columns)])


WORKLOADS = {w.name: w for w in (SnapshotExport, UpsertExport, QueryMix)}
