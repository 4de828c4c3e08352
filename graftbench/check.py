"""Oracle check of the benchmark's outputs against DuckDB.

Every output Spark wrote is compared with DuckDB running the registry's
oracle SQL (`SparkEntry.oracleSql`, dumped by the harness) over the same
input parquet, by the rule of the repository's parity replay: columns
compared by name, physical types must agree, row counts must agree, and
rows must match in order (exact values; NaN and NULL are the same
cell). Outputs whose row order is not defined (a partitioned write) are
compared as sorted multisets.
"""
import glob
import json
import math
import os

import duckdb
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds
import pyarrow.parquet as pq

from gen import TABLES

# the closing report, computed by DuckDB over the star Spark wrote
REPORT_SQL = """
SELECT coalesce(l.region_name, 'UNKNOWN') AS region_name,
       coalesce(d.calendar_year, -1) AS calendar_year,
       coalesce(c.market_segment, 'UNKNOWN') AS market_segment,
       CAST(count(*) AS BIGINT) AS lines,
       CAST(sum(CAST(f.quantity AS BIGINT)) AS BIGINT) AS units,
       CAST(sum(CAST(round(f.sales_amount * 100) AS BIGINT)) AS BIGINT) AS revenue_cents
FROM read_parquet('{star}/fact_sales/*/*.parquet', hive_partitioning = true) f
LEFT JOIN read_parquet('{star}/dim_location/*.parquet') l USING (location_key)
LEFT JOIN read_parquet('{star}/dim_date/*.parquet') d USING (date_key)
LEFT JOIN read_parquet('{star}/dim_customer/*.parquet') c USING (customer_key)
GROUP BY ALL ORDER BY region_name, calendar_year, market_segment
"""


def connect(data_dir, scratch):
    con = duckdb.connect()
    con.execute(f"SET temp_directory = '{scratch}'")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    return con


def read_spark(path, partition_col=None):
    """A Spark output directory as one table, part files in name order."""
    if partition_col:
        part = ds.partitioning(pa.schema([(partition_col, pa.string())]), flavor="hive")
        return ds.dataset(path, format="parquet", partitioning=part).to_table()
    files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    if not files:
        return None
    return pa.concat_tables([pq.read_table(f) for f in files], promote_options="default")


def _norm_type(t):
    if pa.types.is_large_string(t) or pa.types.is_string_view(t):
        return pa.string()
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        return pa.list_(_norm_type(t.value_type))
    return t


def _cells(col):
    return [None if isinstance(v, float) and math.isnan(v) else v for v in col.to_pylist()]


def _equal(a, b):
    if a.equals(b):
        return True
    # slow path: NaN and NULL are the same cell
    return all(_cells(a.column(i)) == _cells(b.column(i)) for i in range(a.num_columns))


def _sorted(t):
    keys = [(n, "ascending") for n, f in zip(t.column_names, t.schema)
            if not pa.types.is_list(f.type) and not pa.types.is_large_list(f.type)]
    return t.take(pc.sort_indices(t, sort_keys=keys)) if keys and t.num_rows else t


def compare(spark, duck, ordered=True):
    """None when the outputs agree, else the reason they do not."""
    if spark is None:
        return "no spark output"
    cols = sorted(spark.column_names)
    if cols != sorted(duck.column_names):
        return f"columns {cols} vs {sorted(duck.column_names)}"
    a, b = spark.select(cols), duck.select(cols)
    bad = [f"{n}: spark={a.schema.field(n).type} duck={b.schema.field(n).type}" for n in cols
           if _norm_type(a.schema.field(n).type) != _norm_type(b.schema.field(n).type)]
    if bad:
        return "schema: " + "; ".join(bad)
    if a.num_rows != b.num_rows:
        return f"rows {a.num_rows} vs {b.num_rows}"
    a = a.cast(pa.schema([pa.field(n, _norm_type(a.schema.field(n).type)) for n in cols]))
    b = b.cast(a.schema)
    if not ordered:
        a, b = _sorted(a), _sorted(b)
    if _equal(a, b):
        return None
    if ordered and _equal(_sorted(a), _sorted(b)):
        return "row order differs"
    return "values differ"


class Oracle:
    """Oracle results, computed once per (data dir, query) and reused."""

    def __init__(self, oracle_sql, scratch):
        self.sql = oracle_sql
        self.scratch = scratch
        self.cons = {}
        self.cache = {}

    def con(self, data_dir):
        if data_dir not in self.cons:
            self.cons[data_dir] = connect(data_dir, self.scratch)
        return self.cons[data_dir]

    def result(self, data_dir, query):
        key = (data_dir, query)
        if key not in self.cache:
            self.cache[key] = self.con(data_dir).sql(self.sql[query]).arrow()
        return self.cache[key]

    def close(self):
        for c in self.cons.values():
            c.close()


def check_mix(out, data_dir, queries, scratch):
    """Compare every check-pass output with its oracle; {query: reason}."""
    oracle = Oracle(json.load(open(os.path.join(out, "oracle_sql.json"))), scratch)
    bad = {}
    try:
        for q in queries:
            path = os.path.join(out, "check", q)
            if not os.path.isdir(path):
                continue  # the run already counted the exception
            try:
                reason = compare(read_spark(path), oracle.result(data_dir, q))
            except Exception as e:  # an oracle that cannot run is a failed check
                reason = f"check error: {type(e).__name__}: {e}"
            if reason:
                bad[q] = reason
    finally:
        oracle.close()
    return bad


# pipeline outputs: (output dir, registry query, input side, ordered)
PIPELINE_OUTPUTS = [
    ("stg_events", "stg_events", "base", True),
    ("dim_date", "dim_date", "base", True),
    ("dim_customer", "dim_customer", "base", True),
    ("dim_product", "dim_product", "base", True),
    ("dim_location", "dim_location", "base", True),
    ("dim_session_context", "dim_session_context", "base", True),
    ("customer_balance", "merge_upsert", "batch", True),
    ("customer_scd2", "scd2_apply", "batch", True),
]


def check_pipeline(out, dirs, passes, facts, scratch):
    """Check every pass's written star; returns ({op@pass: reason}, info)."""
    oracle = Oracle(json.load(open(os.path.join(out, "oracle_sql.json"))), scratch)
    bad = {}

    def check(key, reason):
        try:
            r = reason()
        except Exception as e:  # an output that cannot be read is a failed check
            r = f"check error: {type(e).__name__}: {e}"
        if r:
            bad[key] = r

    try:
        fact_oracle = pa.concat_tables([oracle.result(dirs["base"], "fact_sales"),
                                        oracle.result(dirs["batch"], "fact_sales")])
        full_rows = oracle.con(dirs["full"]).sql(
            f"SELECT count(*) FROM ({oracle.sql['fact_sales']})").fetchone()[0]
        batch_days = len(set(oracle.result(dirs["batch"], "fact_sales")
                             .column("order_date").to_pylist()))
        report_con = duckdb.connect()
        for p in passes:
            star = os.path.join(out, f"pass_{p}")
            for d, q, side, ordered in PIPELINE_OUTPUTS:
                path = os.path.join(star, d)
                if os.path.isdir(path):
                    check(f"{q}@{p}", lambda: compare(read_spark(path),
                                                      oracle.result(dirs[side], q), ordered))
            fpath = os.path.join(star, "fact_sales")
            if not os.path.isdir(fpath):
                continue
            fact = read_spark(fpath, "order_date")
            check(f"fact_sales@{p}", lambda: compare(fact, fact_oracle, ordered=False))
            # base + batch must hold exactly the rows of a full rebuild
            check(f"batch_fact@{p}", lambda: fact.num_rows != full_rows and
                  f"base+batch rows {fact.num_rows} != full rebuild {full_rows}")
            got = facts.get(f"pass_{p}.batch.partitions")
            check(f"load_batch@{p}", lambda: got is not None and got != batch_days and
                  f"loaded {got} partitions, batch has {batch_days}")
            rpath = os.path.join(star, "report")
            if os.path.isdir(rpath):
                check(f"report@{p}", lambda: compare(
                    read_spark(rpath), report_con.sql(REPORT_SQL.format(star=star)).arrow()))
        report_con.close()
    finally:
        oracle.close()
    return bad, {"full_rebuild_rows": full_rows, "batch_partitions": batch_days}
