"""DuckDB oracles for the CLI-path benchmark.

Each check reads the parquet the engine wrote and returns a list of
problems (empty when the output is correct). The benchmark counts an op
whose check finds a problem as failed instead of aborting the run.
"""

from __future__ import annotations

import duckdb
import pandas as pd

# Spark skips `_`-prefixed sidecar dirs (_meta, _settings); DuckDB's glob
# does not, so data files are matched by their partition dirs.
SILVER_GLOB = "{}/cell_id=*/*.parquet"


class Oracle:
    def __init__(self, tmp_dir: str):
        self.con = duckdb.connect()
        self.con.execute("SET threads = 2")
        self.con.execute("SET memory_limit = '1GB'")
        self.con.execute(f"SET temp_directory = '{tmp_dir}'")

    def close(self):
        self.con.close()

    def bronze_keys(self, bronze: str) -> int:
        return self.con.execute(
            "SELECT count(*) FROM (SELECT DISTINCT conv_id, turn_idx "
            f"FROM read_parquet('{bronze}/*/*.parquet'))"
        ).fetchone()[0]

    def bronze_facts(self, bronze: str):
        """(first date, max ts, next free turn_idx per conv) of a bronze
        table."""
        start, end = self.con.execute(
            f"SELECT min(ds), max(ts) FROM read_parquet('{bronze}/*/*.parquet', "
            "hive_partitioning = true)"
        ).fetchone()
        nxt = dict(
            self.con.execute(
                "SELECT conv_id, max(turn_idx) + 1 FROM "
                f"read_parquet('{bronze}/*/*.parquet') GROUP BY 1"
            ).fetchall()
        )
        return start, end, nxt

    def load_silver(self, silver: str) -> None:
        """Snapshot silver into a DuckDB table for the checks that follow."""
        self.con.execute(
            "CREATE OR REPLACE TABLE silver AS SELECT * FROM read_parquet("
            f"'{SILVER_GLOB.format(silver)}', hive_partitioning = true)"
        )

    def silver_problems(self, expected_keys: int) -> list[str]:
        rows, keys, prelim = self.con.execute(
            "SELECT count(*), count(DISTINCT (conv_id, turn_idx)), "
            "count(*) FILTER (WHERE text = 'PRELIM-99') FROM silver"
        ).fetchone()
        out = []
        if prelim:
            out.append(f"silver holds {prelim} PRELIM-99 rows")
        if rows != keys:
            out.append(f"silver has {rows} rows for {keys} keys")
        if keys != expected_keys:
            out.append(f"silver has {keys} keys, bronze has {expected_keys}")
        return out

    def silver_rows(self, cells=None) -> int:
        where = ""
        if cells is not None:
            where = f"WHERE cell_id IN ({','.join(str(int(c)) for c in cells)})"
        return self.con.execute(f"SELECT count(*) FROM silver {where}").fetchone()[0]

    def monthly_problems(self, monthly: str) -> list[str]:
        """Monthly tier against an aggregation of the loaded silver. Sums,
        counts and means mirror operators/rollup.py's int64 micro-unit fixed
        point and float32 edge casts (the rollup oracle shape of
        plans/entry_queries.py). first/last must be a value at the
        bucket's first/last ts: with exact-ts ties either tied row is a
        valid answer."""
        parts = []
        for c in ("text_len", "tool_call"):
            micro = f"CAST(floor(CAST({c} AS DOUBLE) * 1000000 + 0.5) AS BIGINT)"
            parts.append(
                f"""CAST(sum({micro}) AS DOUBLE) / 1000000 AS {c}_sum,
                count({micro}) AS {c}_cnt,
                CAST(min({c}) AS REAL) AS {c}_min,
                CAST(max({c}) AS REAL) AS {c}_max,
                CAST(CAST(sum({micro}) AS DOUBLE) / 1000000 / count({micro})
                     AS REAL) AS {c}_avg"""
            )
        oracle = f"""
            SELECT conv_id, date_trunc('month', ts) AS bucket_ts,
                   count(*) AS n_turns, min(ts) AS t_first, max(ts) AS t_last,
                   {', '.join(parts)}
            FROM silver GROUP BY 1, 2"""
        cmp = []
        for c in ("text_len", "tool_call"):
            for s in ("sum", "cnt", "min", "max", "avg"):
                cmp.append(f"t.{c}_{s} IS DISTINCT FROM o.{c}_{s}")
            for s, tcol in (("first", "t_first"), ("last", "t_last")):
                cmp.append(
                    f"NOT EXISTS (SELECT 1 FROM silver x WHERE "
                    f"x.conv_id = o.conv_id AND x.ts = o.{tcol} AND "
                    f"CAST(x.{c} AS REAL) = t.{c}_{s})"
                )
        bad, n_tier, n_oracle = self.con.execute(
            f"""
            WITH o AS ({oracle}),
                 t AS (SELECT * FROM read_parquet(
                       '{monthly}/cell_id=*/*.parquet', hive_partitioning = true))
            SELECT count(*) FILTER (WHERE t.conv_id IS NULL OR o.conv_id IS NULL
                                    OR t.n_turns <> o.n_turns
                                    OR {' OR '.join(cmp)}),
                   count(t.conv_id), count(o.conv_id)
            FROM t FULL OUTER JOIN o USING (conv_id, bucket_ts)"""
        ).fetchone()
        if bad:
            return [
                f"monthly tier: {bad} of {n_oracle} oracle rows differ "
                f"({n_tier} tier rows)"
            ]
        return []

    def read_problems(self, conv_id: str, pdf: pd.DataFrame, must_have=()) -> list[str]:
        """A point read against DuckDB's filter of silver, in (ts, turn_idx)
        order; ``must_have`` are turn_idx values that were just appended."""
        want = self.con.execute(
            "SELECT epoch_us(ts), turn_idx, role, text, tool FROM silver "
            "WHERE conv_id = ? ORDER BY ts, turn_idx",
            [conv_id],
        ).fetchall()
        got_df = pdf.reset_index()
        got = list(
            zip(
                (got_df["ts"].astype("datetime64[us]").astype("int64")).tolist(),
                got_df["turn_idx"].tolist(),
                got_df["role"].tolist(),
                got_df["text"].tolist(),
                [None if pd.isna(t) else t for t in got_df["tool"]],
            )
        )
        out = []
        if got != want:
            out.append(
                f"read {conv_id}: {len(got)} rows differ from DuckDB's "
                f"{len(want)}"
            )
        missing = set(must_have) - set(got_df["turn_idx"].tolist())
        if missing:
            out.append(f"read {conv_id}: appended turns {sorted(missing)} missing")
        return out
