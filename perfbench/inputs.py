"""Seeded inputs and reference answers for the benchmark.

Everything the engine sees besides the read-only fixtures comes from here:
the op order of every pass and the arrival files the completion sensor
reads. The reference answers come from DuckDB running the registry's own
oracle SQL over the same parquet, before the Spark session starts.
"""

from __future__ import annotations

import hashlib
import json
import os
import random

ARRIVAL_FILES = 40  # the events fixture is split into this many arrival files


def pass_order(ops: list, seed: int, pass_no: int) -> list:
    """The op order of one pass: a seeded shuffle, different per pass."""
    order = list(ops)
    random.Random(f"{seed}:{pass_no}").shuffle(order)
    return order


def _split_bounds(n_rows: int, seed: int) -> list[int]:
    """Row-number bounds of the arrival files: seeded sizes between half
    and one and a half times the mean, covering all ``n_rows``."""
    rng = random.Random(f"{seed}:arrivals")
    weights = [rng.uniform(0.5, 1.5) for _ in range(ARRIVAL_FILES)]
    total = sum(weights)
    bounds, acc = [], 0.0
    for w in weights[:-1]:
        acc += w
        bounds.append(round(n_rows * acc / total))
    return bounds + [n_rows]


def _fixture_key(sf_dir: str, table_names) -> str:
    h = hashlib.sha256(os.path.abspath(sf_dir).encode())
    for t in table_names:
        st = os.stat(os.path.join(sf_dir, f"{t}.parquet"))
        h.update(f"{t}:{st.st_size}:{st.st_mtime_ns}".encode())
    return h.hexdigest()


def _duckdb(sf_dir: str, table_names, threads: int):
    import duckdb

    con = duckdb.connect()
    con.execute(f"SET threads = {threads}")
    for t in table_names:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def oracle_counts(
    names: list[str], sf_dir: str, cache_path: str, threads: int
) -> dict[str, int]:
    """Row count of every named query's DuckDB oracle.

    Counts are cached in ``cache_path`` keyed by the oracle SQL text and
    the fixture files' size and mtime, so a changed oracle or fixture is
    always recounted; the cache only saves recounting identical SQL over
    identical bytes."""
    from databricks_observe_spark.registry import oracle_sql
    from databricks_observe_spark.sources.tables import TABLE_NAMES

    sqls = oracle_sql()
    missing = [n for n in names if n not in sqls]
    if missing:
        raise KeyError(f"no oracle SQL for {missing}")
    fixture = _fixture_key(sf_dir, TABLE_NAMES)
    keys = {
        n: hashlib.sha256(f"{fixture}\n{sqls[n]}".encode()).hexdigest() for n in names
    }
    try:
        with open(cache_path) as f:
            cache = json.load(f)
    except (OSError, ValueError):
        cache = {}
    todo = [n for n in names if keys[n] not in cache]
    if todo:
        con = _duckdb(sf_dir, TABLE_NAMES, threads)
        for n in todo:
            cache[keys[n]] = con.execute(
                f"SELECT count(*) FROM ({sqls[n]}) AS _q"
            ).fetchone()[0]
        con.close()
        os.makedirs(os.path.dirname(cache_path), exist_ok=True)
        tmp = f"{cache_path}.{os.getpid()}"
        with open(tmp, "w") as f:
            json.dump(cache, f)
        os.replace(tmp, cache_path)
    return {n: cache[keys[n]] for n in names}


def arrival_files(
    sf_dir: str, staging_dir: str, seed: int, threads: int
) -> tuple[list[str], list[set]]:
    """Split the ts-ordered events fixture into seeded arrival files under
    ``staging_dir`` and return their paths plus, per file, the oracle's
    distinct completed (entity_type, entity_id, update_id) set over every
    event up to and including that file.

    Files hold consecutive runs of the ts order, so no event in a later
    file is older than the watermark the earlier files set: the stream's
    emitted distinct key set must equal the prefix's set exactly."""
    from databricks_observe_spark.sources.catalog_model import oracle_with_clause

    import duckdb

    os.makedirs(staging_dir, exist_ok=True)
    con = duckdb.connect()
    con.execute(f"SET threads = {threads}")
    con.execute(
        "CREATE TABLE ev AS SELECT *, row_number() OVER (ORDER BY ts, event_id) - 1"
        f" AS rn FROM '{sf_dir}/events.parquet'"
    )
    n_rows = con.execute("SELECT count(*) FROM ev").fetchone()[0]
    bounds = _split_bounds(n_rows, seed)
    paths, lo = [], 0
    for i, hi in enumerate(bounds):
        path = os.path.join(staging_dir, f"arrival_{i:04d}.parquet")
        con.execute(
            f"COPY (SELECT * EXCLUDE (rn) FROM ev WHERE rn >= {lo} AND rn < {hi}"
            f" ORDER BY rn) TO '{path}' (FORMAT parquet)"
        )
        paths.append(path)
        lo = hi
    bound_list = ", ".join(str(b) for b in bounds)
    con.execute("CREATE VIEW events AS SELECT * EXCLUDE (rn) FROM ev")
    first_file = con.execute(
        oracle_with_clause("updates")
        + f"""
, file_of AS (
  SELECT event_id, len(list_filter([{bound_list}], b -> b <= rn)) AS file_idx
  FROM ev
)
SELECT u.entity_type, u.entity_id, u.update_id, min(f.file_idx)
FROM updates u JOIN file_of f USING (event_id)
WHERE u.state = 'COMPLETED'
GROUP BY 1, 2, 3
"""
    ).fetchall()
    con.close()
    prefix_sets: list[set] = [set() for _ in bounds]
    for et, eid, uid, idx in first_file:
        for i in range(idx, len(bounds)):
            prefix_sets[i].add((et, eid, uid))
    return paths, prefix_sets
