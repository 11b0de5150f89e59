"""Output checks: curated-table digests and oracle hashes of query results."""

from __future__ import annotations

import hashlib


def table_digest(df, columns: list[str]) -> tuple[int, int]:
    """Spark side of ``gen.state_digest``: (rows, sum of CRC32 over the
    ``|``-joined string casts, ``\\N`` for null), computed in one job."""
    from pyspark.sql import functions as F

    line = F.concat_ws("|", *[
        F.coalesce(F.col(c).cast("string"), F.lit("\\N")) for c in columns
    ])
    row = df.agg(F.count(F.lit(1)).alias("n"),
                 F.sum(F.crc32(line)).alias("h")).first()
    return int(row["n"]), int(row["h"] or 0)


def _cell(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, float):
        return repr(round(v, 9))
    return str(v)


def result_hash(columns: list[str], rows) -> str:
    """Order-insensitive hash of a query result: columns sorted by name,
    rows sorted as strings, floats rounded to 9 digits."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    h = hashlib.sha256("|".join(sorted(columns)).encode())
    for line in sorted("|".join(_cell(r[i]) for i in order) for r in rows):
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


def oracle_hashes(sf_dir: str, tables: list[str], sql: dict[str, str]) -> dict[str, str]:
    """DuckDB result hash of every oracle query over the generated tables."""
    import duckdb

    con = duckdb.connect()
    try:
        for t in tables:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{sf_dir}/{t}.parquet')")
        out = {}
        for name, q in sql.items():
            res = con.execute(q)
            out[name] = result_hash([d[0] for d in res.description], res.fetchall())
        return out
    finally:
        con.close()
