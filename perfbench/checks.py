"""Output checks of the benchmark.

- Query keys: the graft result (a parquet dump) is compared with the hash
  of the key's `SparkEntry.oracleSql` result in DuckDB over the same
  generated tables, both put through `tools/check_oracle.py`'s `canon`.
  Oracle hashes are cached per (input directory, SQL text).  The oracle's
  top-level CTEs are materialised one by one as temp tables first: this
  DuckDB inlines every reference to a CTE, which made the graph oracles
  recompute their shingle signatures once per reference (20-40 s each).
- The daily pipeline: kept rows per league against the generator's counts,
  and every standings row (id, club, points, match, win, draw, loss,
  goals) against the standings the generator's own matches give.  An exact
  match implies the FIXTURES.md invariants (sum(goal_diff) = 0,
  points = 3*win + draw, dense ids).

Each check returns a list of problems; empty means the output is right.
"""
import datetime as dt
import hashlib
import importlib.util
import json
import re
from decimal import Decimal
from pathlib import Path

import duckdb

import inputs

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _canon_module(repo):
    spec = importlib.util.spec_from_file_location(
        "check_oracle", Path(repo) / "tools" / "check_oracle.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _cell(v):
    """A string per value that is equal exactly when check_oracle's `==`
    treats the canonical values as equal (3 == 3.0 == Decimal(3))."""
    if isinstance(v, tuple):
        return "(" + ",".join(_cell(x) for x in v) + ")"
    if isinstance(v, bool) or v is None or isinstance(v, str):
        return repr(v)
    if isinstance(v, (int, float, Decimal)):
        return str(Decimal(repr(v) if isinstance(v, float) else v)
                   .quantize(Decimal("0.000001")))
    return repr(v)


def result_hash(canon, rel):
    cols = rel.columns
    rows = sorted("|".join(_cell(c) for c in r) for r in canon(rel.fetchall(), cols))
    h = hashlib.sha256(json.dumps(sorted(cols)).encode())
    for r in rows:
        h.update(r.encode())
        h.update(b"\n")
    return f"{len(rows)}:{h.hexdigest()}"


_CTE_HEAD = re.compile(r"\s*([A-Za-z_][A-Za-z0-9_]*)\s+AS\s*\(", re.I)


def split_ctes(sql):
    """([(name, body)], final query) for a non-recursive top-level WITH
    whose CTE names shadow no table; None for anything else."""
    s = sql.strip()
    m = re.match(r"(?i)with\s+(?!recursive\b)", s)
    if not m:
        return None
    i, ctes = m.end(), []
    while True:
        m = _CTE_HEAD.match(s, i)
        if not m or m.group(1).lower() in TABLES:
            return None
        depth, j, quote = 1, m.end(), None
        while depth:
            if j >= len(s):
                return None
            c = s[j]
            if quote:
                quote = None if c == quote else quote
            elif c in "'\"":
                quote = c
            else:
                depth += {"(": 1, ")": -1}.get(c, 0)
            j += 1
        ctes.append((m.group(1), s[m.end():j - 1]))
        m = re.compile(r"\s*,").match(s, j)
        if not m:
            return ctes, s[j:]
        i = m.end()


def oracle_hash(canon, input_dir, sql):
    con = duckdb.connect()
    for t in TABLES:
        p = Path(input_dir) / f"{t}.parquet"
        if p.exists():
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    split = split_ctes(sql)
    if split:
        ctes, sql = split
        for name, body in ctes:
            con.execute(f"CREATE TEMP TABLE {name} AS {body}")
    return result_hash(canon, con.sql(sql))


def oracle_hashes(repo, input_dir, sql_by_key, cache_dir):
    """key -> hash of the oracle's result, cached per (input, SQL)."""
    canon = _canon_module(repo).canon
    cache_dir = Path(cache_dir)
    cache_dir.mkdir(parents=True, exist_ok=True)
    out = {}
    for key, sql in sorted(sql_by_key.items()):
        tag = hashlib.sha256(f"{Path(input_dir).name}\n{sql}".encode()).hexdigest()[:24]
        f = cache_dir / f"{key}-{tag}.json"
        if not f.exists():
            f.write_text(json.dumps({"key": key, "hash": oracle_hash(canon, input_dir, sql)}))
        out[key] = json.loads(f.read_text())["hash"]
    return out


def check_dumps(repo, dump_dir, expected):
    """key -> problems, comparing each dump with its oracle hash."""
    canon = _canon_module(repo).canon
    con = duckdb.connect()
    problems = {}
    for key, want in sorted(expected.items()):
        files = sorted(Path(dump_dir, key).glob("*.parquet"))
        if not files:
            problems[key] = ["no output written"]
            continue
        try:
            got = result_hash(canon, con.sql(
                f"SELECT * FROM read_parquet('{Path(dump_dir, key)}/*.parquet')"))
        except duckdb.Error as e:
            problems[key] = [f"unreadable output: {e}"]
            continue
        problems[key] = [] if got == want else [f"result {got} != oracle {want}"]
    return problems


def check_pipeline(out_dir, manifest, as_of):
    """Problems in the daily pipeline's published output for `as_of`."""
    day = dt.date.fromisoformat(as_of)
    want = inputs.expected_at(manifest, day)
    want_standings = inputs.expected_standings(manifest, day)
    con = duckdb.connect()

    def table(name):
        return (f"read_parquet('{Path(out_dir, name)}/*/*.parquet', "
                f"hive_partitioning = true)")

    problems = []
    try:
        matches = {r[0]: r[1:] for r in con.sql(f"""
            SELECT league, count(*), count(home_score), min(id), max(id),
                   count(DISTINCT id)
            FROM {table('matches')} GROUP BY league""").fetchall()}
        standings = {}
        for r in con.sql(f"""
                SELECT league, id, club, points, match, win, draw, loss,
                       goal_for, goal_against, goal_diff
                FROM {table('standings')} ORDER BY league, id""").fetchall():
            standings.setdefault(r[0], []).append(tuple(r[1:]))
    except duckdb.Error as e:
        return [f"unreadable pipeline output: {e}"]
    for league, (kept, scored, goals) in sorted(want.items()):
        m = matches.get(league)
        if m is None:
            problems.append(f"{league}: no matches published")
            continue
        n, n_scored, lo, hi, distinct = m
        if (n, n_scored) != (kept, scored):
            problems.append(f"{league}: matches rows/scored {n}/{n_scored}, "
                            f"expected {kept}/{scored}")
        if (lo, hi, distinct) != (1, n, n):
            problems.append(f"{league}: match ids not dense 1..{n}")
        got, exp = standings.get(league, []), want_standings[league]
        if got != exp:
            i = next(i for i in range(max(len(got), len(exp)))
                     if got[i:i + 1] != exp[i:i + 1])
            problems.append(f"{league}: standings row {i + 1} is {got[i:i + 1]}, "
                            f"expected {exp[i:i + 1]}")
    extra = set(matches) - set(want)
    if extra:
        problems.append(f"unexpected leagues published: {sorted(extra)[:3]}")
    return problems
