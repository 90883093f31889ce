"""DuckDB reference answers for the three workloads.

- ingest: a one-pass batch sessionization of every generated CSV, with the
  session rule of the ETL round-trip lane's oracle
  (``registry._ETL_ROUNDTRIP_ORACLE``: lag over (ts, event_type,
  product_id), 300 s gap, sha256(user '#' epoch_us(session start)), KST
  date = UTC + 9 h).  Incremental monthly loads must reproduce it.
- wau: the same query text run by DuckDB over the curated table's parquet.
- dedup: ``registry.oracles()["dedup_minhash_lsh"]`` and
  ``["dedup_clusters"]`` over the generated ``documents``.

Relations are compared as multisets (``EXCEPT ALL`` both ways); timestamps
are compared as epoch microseconds so neither engine's time zone enters.
"""

from __future__ import annotations

import re

#: the curated table's columns with the timestamp as epoch microseconds
CURATED_COLUMNS = (
    "event_date_kst",
    "event_ts_us",
    "event_type",
    "session_id",
    "user_id",
    "price",
    "product_id",
    "brand",
    "category_id",
    "category_code",
)

_CSV_COLUMNS = (
    "{'event_time': 'VARCHAR', 'event_type': 'VARCHAR', 'product_id': 'VARCHAR', "
    "'category_id': 'VARCHAR', 'category_code': 'VARCHAR', 'brand': 'VARCHAR', "
    "'price': 'INTEGER', 'user_id': 'VARCHAR', 'user_session': 'VARCHAR'}"
)


def _sql_list(paths) -> str:
    return "[" + ", ".join(f"'{p}'" for p in paths) + "]"


def sessionized_sql(csv_paths) -> str:
    """Batch sessionization of ``csv_paths``: the ETL round-trip oracle's
    session tail over a ``raw`` relation read from the CSVs."""
    from sparkgraft.registry import _ETL_ROUNDTRIP_ORACLE

    starts = [m.start() for m in re.finditer(r"\blagged AS \(", _ETL_ROUNDTRIP_ORACLE)]
    if len(starts) != 1:
        raise RuntimeError("ETL round-trip oracle no longer has one 'lagged' CTE")
    tail = _ETL_ROUNDTRIP_ORACLE[starts[0]:]
    raw = f"""
    WITH raw AS (
      SELECT strptime(event_time, '%Y-%m-%d %H:%M:%S UTC') AS ts, user_id,
             event_type, price, product_id, brand, category_id, category_code
      FROM read_csv({_sql_list(csv_paths)}, header = true, columns = {_CSV_COLUMNS})),
    """
    return f"""
    SELECT event_date_kst, epoch_us(event_ts_utc) AS event_ts_us,
           {", ".join(CURATED_COLUMNS[2:])}
    FROM ({raw}{tail})
    """


def multiset_diff(con, got: str, want: str) -> int:
    """Rows in one relation and not the other, counted with multiplicity."""
    return con.execute(
        f"SELECT (SELECT count(*) FROM (SELECT * FROM {got} EXCEPT ALL SELECT * FROM {want}))"
        f" + (SELECT count(*) FROM (SELECT * FROM {want} EXCEPT ALL SELECT * FROM {got}))"
    ).fetchone()[0]


def digest(con, relation: str) -> tuple[int, int]:
    """Order-insensitive (row count, summed row hash) of a relation."""
    n, h = con.execute(
        f"SELECT count(*), coalesce(sum(hash(r)::HUGEINT), 0) FROM {relation} r"
    ).fetchone()
    return int(n), int(h)


def parquet_relation(path_glob: str, hive: bool = False) -> str:
    return f"read_parquet('{path_glob}', hive_partitioning = {str(hive).lower()})"


def dedup_answers(con, documents_path: str) -> dict[str, str]:
    """Run the two dedup oracles; returns name -> SQL of a result table."""
    from sparkgraft.registry import oracles

    con.execute(f"CREATE OR REPLACE VIEW documents AS SELECT * FROM read_parquet('{documents_path}')")
    sql = oracles()
    out = {}
    for name in ("dedup_minhash_lsh", "dedup_clusters"):
        con.execute(f"CREATE OR REPLACE TABLE want_{name} AS {sql[name]}")
        out[name] = f"want_{name}"
    return out
