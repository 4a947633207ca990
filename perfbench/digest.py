"""Order-independent output digests, compared against the DuckDB oracle.

A digest is `(row count, sum of row hashes, per-column min/max)` over the
name-sorted, VARCHAR-cast columns -- the canonical form of
`tools/digest_compare.py`. Both sides go through DuckDB's own casts and
hash, so a Spark output and its oracle SQL agree exactly when they hold the
same multiset of rows.
"""
import duckdb

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def connect(table_dir, threads=2):
    con = duckdb.connect()
    con.execute(f"SET threads={int(threads)}")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{table_dir}/{t}.parquet')")
    return con


def columns(con, src_sql):
    return sorted(r[0] for r in con.execute(f"DESCRIBE ({src_sql})").fetchall())


def digest(con, src_sql, cols):
    """Digest of the rows `src_sql` returns, over the columns `cols`."""
    cast = ", ".join(f'CAST("{c}" AS VARCHAR) AS "{c}"' for c in cols)
    h = ", ".join(f'"{c}"' for c in cols)
    mm = ", ".join(f'min("{c}"), max("{c}")' for c in cols)
    return con.execute(
        f"WITH canon AS (SELECT {cast} FROM ({src_sql})) "
        f"SELECT count(*), sum(hash({h})), {mm} FROM canon").fetchone()


def compare(con, spark_parquet_dir, oracle_sql):
    """(ok, detail) for one query's Spark output against its oracle."""
    spark_src = f"SELECT * FROM read_parquet('{spark_parquet_dir}/*.parquet')"
    cols = columns(con, spark_src)
    ocols = columns(con, oracle_sql)
    if cols != ocols:
        return False, f"column sets differ: spark={cols} oracle={ocols}"
    sd, od = digest(con, spark_src, cols), digest(con, oracle_sql, cols)
    if sd != od:
        return False, f"rows {sd[0]}/{od[0]} hash_match={sd[1] == od[1]}"
    return True, f"rows {sd[0]}"
