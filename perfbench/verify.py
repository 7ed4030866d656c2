"""Correctness gates. Each returns a list of problems (empty == correct).

- Registry queries: compared with their DuckDB oracle from
  ``plans/oracles.py`` using the repository's oracle canonicalization
  (``tests/oracle_utils.compare_frames``); ``ROWS_ONLY`` queries by row count.
- IMDb warehouse: the nine written tables against DuckDB SQL over the raw
  TSVs. The pipeline keeps an arbitrary survivor per duplicate ``tconst``
  and an arbitrary row among top-K ties, so the check accepts any valid
  choice: survivors are resolved from the written tables (and must be one
  of the raw candidates), and top-K marts must hold the oracle's ranked
  values with rows drawn from the eligible set.
- Streams: each sink against the batch ``operators/eventtime`` result,
  restricted to the windows/sessions the final watermark has closed
  (append-mode file sinks emit nothing else).
"""

from __future__ import annotations

import duckdb
import pandas as pd

from tests.oracle_utils import compare_frames


def _conn() -> duckdb.DuckDBPyConnection:
    conn = duckdb.connect()
    conn.execute("SET threads TO 2")
    return conn


class QueryOracles:
    """DuckDB views over the fixture tables; one oracle result per query,
    computed on first use (the tables are fixed for the whole run)."""

    def __init__(self, tables_dir: str):
        from pipeline_pyspark_etl_imdb_spark.sources.tables import FIXTURE_TABLES

        self.conn = _conn()
        for name in FIXTURE_TABLES:
            self.conn.execute(
                f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{tables_dir}/{name}.parquet')"
            )
        self._results: dict[str, pd.DataFrame] = {}

    def check(self, name: str, got: pd.DataFrame) -> list[str]:
        from pipeline_pyspark_etl_imdb_spark.plans.oracles import ORACLES
        from pipeline_pyspark_etl_imdb_spark.plans.registry import ROWS_ONLY

        if name not in self._results:
            if name in ROWS_ONLY or name not in ORACLES:
                return [] if len(got) else [f"{name}: empty result"]
            self._results[name] = self.conn.execute(ORACLES[name]).df()
        return [f"{name}: {p}" for p in compare_frames(got, self._results[name])]


# --------------------------------------------------------------- imdb

_RAW = "read_csv('{path}', delim='\t', header=true, all_varchar=true, quote='', nullstr='\\N')"


def _split_genres(genres) -> frozenset:
    if genres is None or genres != genres:
        return frozenset()
    return frozenset(g.strip().lower() for g in genres.split(","))


def _same(a, b) -> bool:
    na, nb = a is None or a != a, b is None or b != b
    return (na and nb) or (not na and not nb and a == b)


def _resolve(cands: pd.DataFrame, key: str, chosen: pd.DataFrame, cols: list[str],
             extra=None) -> tuple[pd.DataFrame, list[str]]:
    """Pick, per duplicate key, the candidate row the pipeline kept: the one
    whose ``cols`` equal the written row (and that passes ``extra``)."""
    dup = cands[key].duplicated(keep=False)
    keep = [cands[~dup]]
    problems: list[str] = []
    written = chosen.set_index(key)
    for k, group in cands[dup].groupby(key, sort=False):
        if k not in written.index:
            keep.append(group.iloc[:1])
            continue
        row = written.loc[k]
        match = group[
            group.apply(
                lambda c: all(_same(c[x], row[x]) for x in cols) and (extra is None or extra(c)),
                axis=1,
            )
        ]
        if match.empty:
            problems.append(f"{key}={k}: written row is none of the {len(group)} raw candidates")
            keep.append(group.iloc[:1])
        else:
            keep.append(match.iloc[:1])
    return pd.concat(keep, ignore_index=True), problems


def _read_written(conn: duckdb.DuckDBPyConnection, path: str, partitioned: bool) -> pd.DataFrame:
    if partitioned:
        # Spark writes a NULL partition value as __HIVE_DEFAULT_PARTITION__
        return conn.execute(
            "SELECT * REPLACE (CAST(NULLIF(yearkey, '__HIVE_DEFAULT_PARTITION__') AS INTEGER) "
            f"AS yearkey) FROM read_parquet('{path}/*/*.parquet', hive_partitioning=true, "
            "hive_types={'yearkey': VARCHAR})"
        ).df()
    return conn.execute(f"SELECT * FROM read_parquet('{path}/*.parquet')").df()


def _check_topk(conn, name: str, got: pd.DataFrame, eligible_sql: str, part: list[str],
                order_col: str, k: int) -> list[str]:
    """Top-K with arbitrary tie-breaking: per partition the ranked order
    values must equal the oracle's, ranks must be 1..n, and every row must
    be an eligible row."""
    conn.register("got_topk", got)
    keys = ", ".join(part)
    join_on = " AND ".join(f"g.{c} IS NOT DISTINCT FROM e.{c}" for c in part)
    cols = [*part, "titlekey", "avg_rating", "num_votes"]
    row_on = " AND ".join(f"g.{c} IS NOT DISTINCT FROM e.{c}" for c in cols)
    problems = []
    stray = conn.execute(
        f"SELECT count(*) FROM got_topk g WHERE NOT EXISTS "
        f"(SELECT 1 FROM ({eligible_sql}) e WHERE {row_on})"
    ).fetchone()[0]
    if stray:
        problems.append(f"{name}: {stray} rows are not eligible input rows")
    diff = conn.execute(
        f"""
        WITH g AS (SELECT {keys}, list(CAST({order_col} AS DOUBLE) ORDER BY rk) AS vals,
                          list(rk ORDER BY rk) AS rks, count(DISTINCT titlekey) AS n_titles,
                          count(*) AS n
                   FROM got_topk GROUP BY ALL),
             e AS (SELECT {keys}, list_slice(list(CAST({order_col} AS DOUBLE)
                          ORDER BY {order_col} DESC), 1, {k}) AS vals
                   FROM ({eligible_sql}) GROUP BY ALL)
        SELECT count(*) FROM g FULL OUTER JOIN e ON {join_on}
        WHERE g.vals IS NULL OR e.vals IS NULL OR g.vals <> e.vals
           OR g.rks <> range(1, g.n + 1) OR g.n_titles <> g.n
        """
    ).fetchone()[0]
    if diff:
        problems.append(f"{name}: {diff} partitions differ from the oracle's top-{k}")
    conn.unregister("got_topk")
    return problems


def check_imdb(basics: str, ratings: str, dw_dir: str, marts_dir: str,
               min_votes: int, top_n: int) -> list[str]:
    conn = _conn()
    titles = conn.execute(
        f"""SELECT tconst, titleType, primaryTitle, originalTitle,
                   TRY_CAST(isAdult AS INTEGER) AS isAdult,
                   TRY_CAST(startYear AS INTEGER) AS startYear,
                   TRY_CAST(runtimeMinutes AS INTEGER) AS runtimeMinutes, genres
            FROM {_RAW.format(path=basics)} WHERE titleType = 'movie'"""
    ).df()
    rates = conn.execute(
        f"""SELECT tconst, TRY_CAST(averageRating AS DOUBLE) AS averageRating,
                   TRY_CAST(numVotes AS INTEGER) AS numVotes
            FROM {_RAW.format(path=ratings)}"""
    ).df()
    got = {
        name: _read_written(conn, f"{dw_dir}/{name}", name == "fact_ratings")
        for name in ("dim_year", "dim_title", "dim_genre", "bridge_title_genre", "fact_ratings")
    }
    for name in ("mart_year_kpi", "mart_top_genre_year", "mart_top_year_by_rating",
                 "mart_rating_distribution"):
        got[name] = _read_written(conn, f"{marts_dir}/{name}", False)

    genres_of = got["bridge_title_genre"].groupby("titlekey")["genrekey"].agg(frozenset)
    dim_title = got["dim_title"].rename(columns={"titlekey": "tconst"})
    titles_stg, problems = _resolve(
        titles, "tconst", dim_title,
        ["primaryTitle", "originalTitle", "titleType", "startYear", "runtimeMinutes", "isAdult"],
        extra=lambda c: _split_genres(c["genres"]) == genres_of.get(c["tconst"], frozenset()),
    )
    fact = got["fact_ratings"].rename(
        columns={"titlekey": "tconst", "avg_rating": "averageRating", "num_votes": "numVotes"}
    )
    ratings_stg, more = _resolve(rates, "tconst", fact, ["averageRating", "numVotes"])
    problems += more
    # pandas turned nullable INTEGER columns into floats; restore the types
    conn.register("t_resolved", titles_stg)
    conn.register("r_resolved", ratings_stg)
    conn.execute(
        "CREATE TEMP TABLE t AS SELECT tconst, titleType, primaryTitle, originalTitle, "
        "CAST(isAdult AS INTEGER) AS isAdult, CAST(startYear AS INTEGER) AS startYear, "
        "CAST(runtimeMinutes AS INTEGER) AS runtimeMinutes, genres FROM t_resolved"
    )
    conn.execute(
        "CREATE TEMP TABLE r AS SELECT tconst, averageRating, "
        "CAST(numVotes AS INTEGER) AS numVotes FROM r_resolved"
    )
    genre_rows = (
        "SELECT DISTINCT tconst AS titlekey, trim(lower(g)) AS genrekey FROM "
        "(SELECT tconst, unnest(string_split(genres, ',')) AS g FROM t WHERE genres IS NOT NULL)"
    )
    fact_sql = (
        "SELECT t.tconst AS titlekey, t.startYear AS yearkey, r.averageRating AS avg_rating, "
        "r.numVotes AS num_votes, t.runtimeMinutes AS runtime_min FROM t JOIN r USING (tconst)"
    )
    conn.execute(f"CREATE TEMP TABLE fact AS {fact_sql}")
    conn.execute(f"CREATE TEMP TABLE bridge AS {genre_rows}")
    oracle = {
        "dim_year": "SELECT DISTINCT startYear AS year FROM t WHERE startYear IS NOT NULL",
        "dim_title": "SELECT tconst AS titlekey, primaryTitle, originalTitle, titleType, "
        "startYear, runtimeMinutes, isAdult FROM t",
        "dim_genre": "SELECT DISTINCT genrekey FROM bridge",
        "bridge_title_genre": "SELECT * FROM bridge",
        "fact_ratings": "SELECT * FROM fact",
        "mart_year_kpi": "SELECT yearkey, count(*) AS n_movies, avg(avg_rating) AS mean_rating, "
        "CAST(sum(num_votes) AS BIGINT) AS total_votes FROM fact GROUP BY yearkey",
        "mart_rating_distribution": "SELECT yearkey, floor(avg_rating * 2) / 2.0 AS rating_bucket, "
        "count(*) AS count FROM fact GROUP BY ALL",
    }
    for name, sql in oracle.items():
        problems += [f"{name}: {p}" for p in compare_frames(got[name], conn.execute(sql).df())]
    problems += _check_topk(
        conn, "mart_top_genre_year", got["mart_top_genre_year"],
        f"SELECT f.*, b.genrekey FROM fact f JOIN bridge b USING (titlekey) "
        f"WHERE num_votes >= {min_votes}",
        ["yearkey", "genrekey"], "num_votes", top_n,
    )
    problems += _check_topk(
        conn, "mart_top_year_by_rating", got["mart_top_year_by_rating"],
        f"SELECT * FROM fact WHERE num_votes >= {min_votes}",
        ["yearkey"], "avg_rating", top_n,
    )
    conn.close()
    return problems


# ------------------------------------------------------------- streams

US = 1_000_000


def check_stream(name: str, got: pd.DataFrame, events, watermark_s: int) -> list[str]:
    """``events`` is the batch DataFrame of every streamed event."""
    from pyspark.sql import functions as F

    from pipeline_pyspark_etl_imdb_spark.operators import eventtime

    max_s = events.select(
        (F.max(eventtime.ts_micros(events)) / US).cast("long").alias("m")
    ).first()["m"]
    closed_by = max_s - watermark_s
    if name == "stream_dedup":
        ids = events.select("event_id").distinct().toPandas()["event_id"]
        problems = []
        if len(got) != len(ids):
            problems.append(f"{name}: {len(got)} rows, {len(ids)} distinct source ids")
        if not got["event_id"].is_unique or set(got["event_id"]) != set(ids):
            problems.append(f"{name}: sink ids are not the distinct source ids")
        return problems
    if name == "tumbling_kpi_stream":
        width = 600
        want = eventtime.tumbling_kpi(events, width).where(
            F.col("window_start_s") + width <= closed_by
        )
        got = got[["window_start_s", "event_type", "n_events", "sum_value"]]
    elif name == "sessionize_stream":
        gap = 1800
        want = eventtime.sessionize(events, gap).where(F.col("end_s") + gap <= closed_by)
        want = want.select("user_id", "start_s", "n_events")
        got = got[["user_id", "start_s", "n_events"]]
    else:
        raise ValueError(name)
    return [f"{name}: {p}" for p in compare_frames(got, want.toPandas())]
