"""DuckDB recomputation of what the engine must produce.

Streaming: both reference jobs over the generated tick JSON, with the
engine's window alignment (epoch-aligned windows, end exclusive).
Batch: the row count of each query's registered oracle SQL over the same
parquet tables the engine read.
"""
import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _ticks(con, tick_glob):
    con.execute(f"""
        CREATE OR REPLACE TEMP VIEW ticks AS
        SELECT ticker, price, epoch_ms(CAST(utc AS TIMESTAMP)) AS ms
        FROM read_json('{tick_glob}', format = 'newline_delimited',
                       columns = {{'utc': 'VARCHAR', 'ticker': 'VARCHAR',
                                   'price': 'DOUBLE'}})""")


def candles(tick_glob, width_ms, max_end_ms):
    """(ticker, window_end_ms) -> (first, last, min, max) for every
    tumbling window ending at or before max_end_ms."""
    con = duckdb.connect()
    _ticks(con, tick_glob)
    rows = con.execute(f"""
        SELECT ticker, (ms // {width_ms} + 1) * {width_ms} AS e,
               arg_min(price, ms), arg_max(price, ms), min(price), max(price)
        FROM ticks GROUP BY 1, 2 HAVING e <= {max_end_ms}""").fetchall()
    return {(r[0], int(r[1])): tuple(r[2:]) for r in rows}


def slides(tick_glob, over_ms, every_ms, max_end_ms):
    """(ticker, window_end_ms) -> (min,) for every hopping window with at
    least one tick, ending at or before max_end_ms: per-pane minimum, then
    each pane rolled into the over/every windows that contain it."""
    con = duckdb.connect()
    _ticks(con, tick_glob)
    n = over_ms // every_ms
    rows = con.execute(f"""
        WITH panes AS (
          SELECT ticker, ms // {every_ms} * {every_ms} AS s, min(price) AS m
          FROM ticks GROUP BY 1, 2)
        SELECT ticker, s + k * {every_ms} AS e, min(m)
        FROM panes, range(1, {n} + 1) AS r(k)
        GROUP BY 1, 2 HAVING e <= {max_end_ms}""").fetchall()
    return {(r[0], int(r[1])): (r[2],) for r in rows}


def max_tick_ms(tick_glob):
    con = duckdb.connect()
    _ticks(con, tick_glob)
    return int(con.execute("SELECT max(ms) FROM ticks").fetchone()[0])


def row_counts(data_dir, oracle_sql):
    """name -> row count of its oracle SQL, or the error it raised."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    out = {}
    for name, sql in oracle_sql.items():
        try:
            out[name] = con.execute(
                f"SELECT count(*) FROM ({sql.strip().rstrip(';')})").fetchone()[0]
        except duckdb.Error as e:
            out[name] = e
    return out
