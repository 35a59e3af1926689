"""Output checks: every answer the program gives is compared with an oracle
that does not share its code. The export is checked against the generator's
ground truth, read back with DuckDB; log queries against DuckDB over the
same Parquet files."""

import collections
import json
import os
import random

import duckdb

DEFAULT = "__HIVE_DEFAULT_PARTITION__"
PART_COLS = ["bucket_name", "operation", "year", "month", "day", "hour"]


def _logs_relation(files):
    """The exported rows with Spark's partition semantics: a
    __HIVE_DEFAULT_PARTITION__ dir value is NULL and calendar parts are ints."""
    types = ", ".join(f"'{c}': VARCHAR" for c in PART_COLS)
    cols = ", ".join(
        f"NULLIF({c}, '{DEFAULT}') AS {c}" if c in ("bucket_name", "operation")
        else f"CAST(NULLIF({c}, '{DEFAULT}') AS BIGINT) AS {c}" for c in PART_COLS)
    flist = "[" + ", ".join("'" + f.replace("'", "''") + "'" for f in files) + "]"
    return (f"SELECT * EXCLUDE ({', '.join(PART_COLS)}), {cols} FROM read_parquet("
            f"{flist}, hive_partitioning = true, hive_types = {{{types}}})")


def tally(files):
    """Rows per (bucket, operation, [y, m, d, h] or None) in `files`."""
    if not files:
        return collections.Counter()
    con = duckdb.connect()
    rows = con.execute(
        f"SELECT bucket_name, operation, year, month, day, hour, count(*) "
        f"FROM ({_logs_relation(files)}) GROUP BY ALL").fetchall()
    out = collections.Counter()
    for b, o, y, m, d, h, n in rows:
        out[(b, o, None if y is None else (y, m, d, h))] += n
    return out


def truth_tally(hours):
    out = collections.Counter()
    for h in hours:
        for b, o, hk, n in h["tally"]:
            out[(b, o, tuple(hk) if hk else None)] += n
    return out


def layout_problems(dst, rel_files):
    """Each non-default partition dir must hold exactly one data file, named
    {bucket}-{operation}-{year}-{month}-{day}-{hour}.parquet."""
    problems = []
    for d in sorted({os.path.dirname(f) for f in rel_files}):
        values = [p.split("=", 1)[1] for p in d.split(os.sep)]
        if DEFAULT in values:
            continue
        data = [f for f in os.listdir(os.path.join(dst, d)) if not f.startswith(".")]
        want = "-".join(values) + ".parquet"
        if data != [want]:
            problems.append(f"{d}: {data} != [{want}]")
    return problems


def check_hour(dst, tracking, rec, truth):
    """One runHour: rows returned, marker, file naming, per-combo tallies."""
    problems = []
    if rec["rows"] != str(truth["lines"]):
        problems.append(f"runHour returned {rec['rows']}, {truth['lines']} lines were read")
    marker = os.path.join(tracking, rec["hour"])
    want = f"exported hour={rec['hour']} rows={truth['lines']}"
    got = open(marker).read() if os.path.exists(marker) else None
    if got != want:
        problems.append(f"marker {got!r} != {want!r}")
    files = rec["out"]["files"]
    problems += layout_problems(dst, files)
    if tally([os.path.join(dst, f) for f in files]) != truth_tally([truth]):
        problems.append("per-combo row tally differs from the generator's")
    return problems


def check_same_rows(dst_a, files_a, dst_b, files_b):
    """The traced replay must write exactly what runHour wrote."""
    a = [os.path.join(dst_a, f) for f in files_a]
    b = [os.path.join(dst_b, f) for f in files_b]
    named = lambda fs: sorted(f for f in fs if DEFAULT not in f)
    if named(files_a) != named(files_b):
        return ["replay wrote other files than runHour"]
    con = duckdb.connect()
    ra, rb = _logs_relation(a), _logs_relation(b)
    n = con.execute(f"SELECT count(*) FROM (({ra} EXCEPT ALL {rb}) UNION ALL "
                    f"({rb} EXCEPT ALL {ra}))").fetchone()[0]
    return [] if n == 0 else [f"replay output differs from runHour's in {n} rows"]


# --- log_query -------------------------------------------------------------

TEMPLATES = {
    # pruned to one partition dir
    "hour_status": "SELECT httpstatus, count(*) AS n FROM logs WHERE bucket_name = '{b}' "
                   "AND operation = '{o}' AND year = {y} AND month = {m} AND day = {d} "
                   "AND hour = {h} GROUP BY httpstatus",
    # equality on the first row-group clustering column, across all hours
    "requester_history": "SELECT year, month, day, hour, count(*) AS n, "
                         "CAST(sum(bytessent) AS BIGINT) AS bytes FROM logs "
                         "WHERE requester = '{r}' GROUP BY year, month, day, hour",
    # range on the second clustering column
    "cidr_scan": "SELECT remoteip, count(*) AS n FROM logs "
                 "WHERE remoteip_int BETWEEN {lo} AND {hi} GROUP BY remoteip",
    "role_top_bytes": "SELECT requester, CAST(sum(bytessent) AS BIGINT) AS bytes FROM logs "
                      "WHERE is_assumed_role AND year = {y} AND month = {m} AND day = {d} "
                      "GROUP BY requester ORDER BY bytes DESC NULLS LAST, requester LIMIT 5",
    # full scan
    "error_rate_by_hour": "SELECT year, month, day, hour, count(*) AS total, "
                          "CAST(sum(CASE WHEN httpstatus LIKE '{c}%' THEN 1 ELSE 0 END) AS BIGINT) "
                          "AS errors FROM logs GROUP BY year, month, day, hour",
    # shuffle top-N
    "hot_keys": "SELECT bucket_name, key, count(*) AS n FROM logs WHERE operation = '{o}' "
                "GROUP BY bucket_name, key ORDER BY n DESC, bucket_name NULLS FIRST, "
                "key NULLS FIRST LIMIT {k}",
}


def ip_int(ip):
    a, b, c, d = (int(x) for x in ip.split("."))
    return (a << 24) | (b << 16) | (c << 8) | d


def query_pool(seed, facts, hours, per_template):
    """Seeded parameter draws: `per_template` instances of every template."""
    rng = random.Random(f"queries-{seed}")
    pool = []
    for name, sql in TEMPLATES.items():
        for _ in range(per_template):
            y, m, d, h = (int(x) for x in rng.choice(hours).split("-"))
            lo = ip_int(rng.choice(facts["ips"])) & ~0xFFF
            params = dict(b=rng.choice(facts["buckets"]), o=rng.choice(facts["operations"]),
                          y=y, m=m, d=d, h=h, r=rng.choice(facts["requesters"]),
                          lo=lo, hi=lo + 0xFFF, c=rng.choice("45"), k=rng.randrange(5, 21))
            pool.append({"template": name, "sql": sql.format(**params)})
    return pool


def canonical(rows):
    return sorted(json.dumps(list(r), separators=(",", ":"), ensure_ascii=False) for r in rows)


def oracle_answers(dst, pool):
    """DuckDB's answer to every pool instance over the exported Parquet."""
    con = duckdb.connect()
    files = [os.path.join(r, f) for r, _, fs in os.walk(dst) for f in fs
             if f.endswith(".parquet") and not f.startswith(".")]
    # a table, not a view: DuckDB's filter pushdown into NULLIF'd hive
    # partition columns fails internally
    con.execute(f"CREATE TABLE logs AS {_logs_relation(sorted(files))}")
    return [canonical(con.execute(q["sql"]).fetchall()) for q in pool]


# --- query_surface -----------------------------------------------------------

def _rows(con, sql):
    cur = con.execute(sql)
    return [d[0] for d in cur.description], cur.fetchall()


def _same(a, b):
    if isinstance(a, float) and isinstance(b, float):
        return a == b or (a != a and b != b)
    return a == b


def surface_problems(tables_dir, table_names, answer_dir, oracle_sql):
    """The program's answer (its collected rows, written as Parquet) against
    the query's DuckDB oracle over the same tables: same columns, same rows
    in any order, floats bit-exact."""
    con = duckdb.connect()
    for t in table_names:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{tables_dir}/{t}.parquet')")
    want_cols, want = _rows(con, oracle_sql)
    got_cols, got = _rows(con, f"SELECT * FROM read_parquet('{answer_dir}/*.parquet')")
    if sorted(got_cols) != sorted(want_cols):
        return [f"columns {sorted(got_cols)} != oracle's {sorted(want_cols)}"]
    order = [got_cols.index(c) for c in want_cols]
    got = [tuple(r[i] for i in order) for r in got]
    if len(got) != len(want):
        return [f"{len(got)} rows, oracle has {len(want)}"]
    key = lambda r: [str(v) for v in r]
    for g, w in zip(sorted(got, key=key), sorted(want, key=key)):
        if not all(_same(x, y) for x, y in zip(g, w)):
            return [f"row {g} != oracle's {w}"]
    return []
