"""Output checks of one benchmark run, against DuckDB.

Exact queries must match their oracle SQL from `SparkEntry.oracleSql`,
run by DuckDB over the same generated tables and corpora: rows sorted,
columns sorted by name, doubles bit-exact. The reference-semantics speed
averages may instead agree to 12 significant digits (the ulp tier of
tools/check_oracle.py), taken as a relative difference of at most 1e-12:
comparing the two values rounded to 12 digits would fail whenever a
1e-13 summation-order drift straddles a rounding boundary, which the
multi-megabyte taxi corpora hit. Approximate queries must stay above
the accuracy floors below.
"""
import glob
import math
import os

import duckdb

ULP_TIER = {"taxi_avg_speed_faithful", "taxi_avg_speed_weighted",
            "events_speed_faithful", "events_speed_weighted",
            "taxi_etl_faithful", "taxi_etl_weighted"}

# Accuracy floor of the approximate queries: `graft.Bench` publishes
# q27's HLL error (0.0036) and q87's worst quantile error (0.0021) at
# sf0.1.
REL_ERR_CEIL = 0.05


def _norm(df):
    cols = sorted(df.columns)
    rows = []
    for t in df[cols].itertuples(index=False):
        row = []
        for v in t:
            if isinstance(v, float):
                row.append("nan" if math.isnan(v) else (0.0 if v == 0 else v).hex())
            else:
                row.append(str(v))
        rows.append(tuple(row))
    return cols, sorted(rows)


def close12(a, b):
    """Doubles that agree to 12 significant digits."""
    return a == b or abs(a - b) <= 1e-12 * max(abs(a), abs(b))


def _cells_close12(x, y):
    if x.startswith(("0x", "-0x")) and y.startswith(("0x", "-0x")):
        return close12(float.fromhex(x), float.fromhex(y))
    return x == y


def same(name, got, want):
    """None when `got` matches `want`, else a one-line reason."""
    gc, gr = _norm(got)
    wc, wr = _norm(want)
    if gc != wc:
        return f"columns {gc} != {wc}"
    if len(gr) != len(wr):
        return f"rows {len(gr)} != {len(wr)}"
    if gr == wr or (name in ULP_TIER and all(
            _cells_close12(x, y) for a, b in zip(gr, wr) for x, y in zip(a, b))):
        return None
    bad = next((a, b) for a, b in zip(gr, wr) if a != b)
    return f"mismatch, first {bad}"


def parse_formatted(text):
    """The seven per-day values of TaxiSpeed.formatResult, Sunday first."""
    return [float(part.split(":")[1]) for part in text.split(", ")]


class Checker:
    def __init__(self, table_dir, tmp_dir):
        self.con = duckdb.connect()
        self.con.execute("SET threads TO 4")
        self.con.execute(f"SET temp_directory = '{tmp_dir}'")
        if table_dir:
            for f in glob.glob(os.path.join(table_dir, "*.parquet")):
                name = os.path.basename(f)[:-len(".parquet")]
                self.con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{f}')")
        self._cache = {}

    def oracle(self, sql):
        if sql not in self._cache:
            self._cache[sql] = self.con.execute(sql).df()
        return self._cache[sql]

    def taxi(self, name, sql, text):
        """A formatted taxi result against its oracle, day by day."""
        want = self.oracle(sql)
        by_day = dict(zip(want["day"].astype(int), want["avg_speed_mph"].astype(float)))
        got = parse_formatted(text)
        exp = [by_day.get(d, 0.0) for d in range(7)]
        if got == exp or (name in ULP_TIER and all(map(close12, got, exp))):
            return None
        return f"got {got}, want {exp}"

    def parquet(self, name, path, oracle_sql):
        """A query's parquet output against its oracle or accuracy floor."""
        if not path or not glob.glob(os.path.join(path, "*.parquet")):
            return "no output"
        got = self.con.execute(f"SELECT * FROM read_parquet('{path}/*.parquet')").df()
        if name == "q27_approx_distinct":
            orders, parts = self.con.execute(
                "SELECT count(DISTINCT l_orderkey), count(DISTINCT l_partkey) "
                "FROM lineitem").fetchone()
            if int(got["exact_orders"][0]) != orders:
                return f"exact_orders {got['exact_orders'][0]} != {orders}"
            err = max(abs(float(got["approx_orders"][0]) - orders) / orders,
                      abs(float(got["approx_parts"][0]) - parts) / parts)
            return None if err <= REL_ERR_CEIL else f"HLL error {err:.4f} > {REL_ERR_CEIL}"
        if name == "q87_approx_quantiles":
            exact = self.con.execute(
                "SELECT event_type, quantile_cont(value, [0.5, 0.95, 0.99]) AS q "
                "FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL "
                "GROUP BY event_type").fetchall()
            key = got.columns[0]
            worst = 0.0
            for t, qs in exact:
                row = got[got[key] == t].iloc[0]
                approx = [float(row.iloc[i]) for i in (1, 2, 3)]
                worst = max([worst] + [abs(a - e) / max(abs(e), 1e-12)
                                       for a, e in zip(approx, qs)])
            return None if worst <= REL_ERR_CEIL else f"quantile error {worst:.4f} > {REL_ERR_CEIL}"
        if name not in oracle_sql:
            return "no oracle"
        return same(name, got, self.oracle(oracle_sql[name]))
