"""Seeded benchmark inputs, cached per (workload, seed, size).

Every generator is a pure function of its seed: the same seed writes the
same bytes, a different seed different ones.  A finished input directory
carries a `manifest.json` (written last), so a run that died half-way
through generation is regenerated instead of reused.

- `gen_matches`: one season of raw matches in scraped shape
  (FIXTURES.md `matches_raw`) for the daily pipeline, with known counts of
  injected junk rows, malformed scores, unparseable dates and future
  dates, plus what the reference's cleaning keeps for any `asOf`.
- `gen_sf_tables`: the TPC-H-style and corpus tables of `tools/gen_sf.py`,
  imported with its `SEED` overridden.
"""
import datetime as dt
import hashlib
import importlib.util
import json
import shutil
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# The reference hard-codes the season-end year for Jan-Jul dates and the
# year before for Aug-Dec (dags/projectde_dag.py:82-83); the engine infers
# it from `asOf`.  Every `asOf` the benchmark uses therefore lies in
# Jan-Jul of the season-end year, where both agree.
AS_OF_BASE = dt.date(2025, 1, 1)
AS_OF_DAYS = 200                      # asOf = AS_OF_BASE + (k mod AS_OF_DAYS)
SEASON_START = dt.date(2024, 8, 17)   # a Saturday; round r is 7*r days later
FUTURE_FIXTURE = dt.date(2025, 7, 26)  # injected friendlies, after every asOf
MONTHS = ["Jan", "Feb", "Mar", "Apr", "May", "Jun",
          "Jul", "Aug", "Sep", "Oct", "Nov", "Dec"]
DAY_ABBR = ["Mo", "Tu", "We", "Th", "Fr", "Sa", "Su"]
BAD_DATES = ["TBD", "Sa 31 Fbr", "postp."]
BAD_SCORES = ["-", "", "pp."]


def _scraped_date(d):
    return f"{DAY_ABBR[d.weekday()]} {d.day} {MONTHS[d.month - 1]}"


def _round_robin(n_clubs):
    """Double round robin by the circle method: 2*(n-1) rounds of n/2."""
    clubs = list(range(n_clubs))
    rounds = []
    for _ in range(n_clubs - 1):
        rounds.append([(clubs[i], clubs[n_clubs - 1 - i])
                       for i in range(n_clubs // 2)])
        clubs = [clubs[0], clubs[-1]] + clubs[1:-1]
    return rounds + [[(a, h) for h, a in r] for r in rounds]


def gen_matches(out_dir, seed, leagues, clubs):
    """Write `raw.parquet` and return the manifest of what was injected."""
    rng = np.random.default_rng(seed)
    fixtures = _round_robin(clubs)
    cols = {k: [] for k in ("date", "home_team", "score", "away_team", "league")}
    injected = {"junk_rows": 0, "malformed_scores": 0,
                "unparseable_dates": 0, "future_dates": 0}
    # per league: date (iso) -> [rows kept once asOf passes it,
    #                            of which scored, goals in those]
    keepable = {}
    # per league: club names, and every scored match as
    # [date (iso), home index, away index, home goals, away goals]
    club_names, played = {}, {}

    def row(date, home, score, away, league):
        cols["date"].append(date)
        cols["home_team"].append(home)
        cols["score"].append(score)
        cols["away_team"].append(away)
        cols["league"].append(league)

    for li in range(leagues):
        league = f"league_{li:03d}"
        names = [f"L{li:03d} Club {c:02d}" for c in range(clubs)]
        by_date = keepable.setdefault(league, {})
        club_names[league] = names
        scores = played.setdefault(league, [])
        n_rounds = len(fixtures)
        goals = rng.poisson(1.4, size=(n_rounds, clubs // 2, 2))
        shift = rng.integers(-1, 3, size=(n_rounds, clubs // 2))
        bad_score = rng.random((n_rounds, clubs // 2)) < 0.01
        for r, pairs in enumerate(fixtures):
            for m, (h, a) in enumerate(pairs):
                d = SEASON_START + dt.timedelta(days=7 * r + int(shift[r, m]))
                if bad_score[r, m]:
                    score = BAD_SCORES[int(rng.integers(len(BAD_SCORES)))]
                    injected["malformed_scores"] += 1
                    scored, g = 0, 0
                else:
                    hs, as_ = int(goals[r, m, 0]), int(goals[r, m, 1])
                    score, scored, g = f"{hs} - {as_}", 1, hs + as_
                    scores.append([d.isoformat(), h, a, hs, as_])
                row(_scraped_date(d), names[h], score, names[a], league)
                acc = by_date.setdefault(d.isoformat(), [0, 0, 0])
                acc[0] += 1
                acc[1] += scored
                acc[2] += g
        # the scraped table's footer rows (ref dags/projectde_dag.py:46-47)
        for label in ("Averages", "Percentages"):
            for _ in range(int(rng.integers(1, 3))):
                row(label, "", "", "", league)
                injected["junk_rows"] += 1
        for _ in range(int(rng.integers(1, 3))):
            row("", "Totals", "", "", league)
            injected["junk_rows"] += 1
        for _ in range(int(rng.integers(0, 3))):
            h, a = rng.choice(clubs, size=2, replace=False)
            row(BAD_DATES[int(rng.integers(len(BAD_DATES)))], names[h],
                "1 - 1", names[a], league)
            injected["unparseable_dates"] += 1
        for _ in range(int(rng.integers(1, 3))):
            h, a = rng.choice(clubs, size=2, replace=False)
            row(_scraped_date(FUTURE_FIXTURE), names[h], "2 - 0", names[a],
                league)
            injected["future_dates"] += 1

    n = len(cols["date"])
    table = pa.table({
        "ordinal": pa.array(np.arange(1, n + 1, dtype=np.int32), pa.int32()),
        **{k: pa.array(v, pa.string()) for k, v in cols.items()},
    })
    pq.write_table(table, str(Path(out_dir) / "raw.parquet"))
    return {"rows": n, "leagues": leagues, "clubs": clubs,
            "injected": injected, "keepable": keepable,
            "clubs": club_names, "played": played}


def expected_at(manifest, day):
    """Per league: (kept rows, scored matches, goals) for asOf = `day`:
    rows whose date parses and lies strictly before `day`."""
    iso = day.isoformat()
    out = {}
    for league, by_date in manifest["keepable"].items():
        tot = [0, 0, 0]
        for d, acc in by_date.items():
            if d < iso:
                tot = [x + y for x, y in zip(tot, acc)]
        out[league] = tot
    return out


def expected_standings(manifest, day):
    """Per league: the standings rows the reference publishes for asOf =
    `day`, as (id, club, points, match, win, draw, loss, goal_for,
    goal_against, goal_diff), computed from every scored match before
    `day` and ranked as FIXTURES.md orders them."""
    iso = day.isoformat()
    out = {}
    for league, matches in manifest["played"].items():
        names = manifest["clubs"][league]
        acc = {}  # club -> [win, draw, loss, goal_for, goal_against]
        for d, h, a, hs, as_ in matches:
            if d >= iso:
                continue
            for club, gf, ga in ((h, hs, as_), (a, as_, hs)):
                t = acc.setdefault(names[club], [0, 0, 0, 0, 0])
                t[0 if gf > ga else 1 if gf == ga else 2] += 1
                t[3] += gf
                t[4] += ga
        rows = [(club, 3 * w + dr, w + dr + lo, w, dr, lo, gf, ga, gf - ga)
                for club, (w, dr, lo, gf, ga) in acc.items()]
        rows.sort(key=lambda r: (-r[1], -r[6], -r[7], -r[3], -r[4], -r[5], r[0]))
        out[league] = [(i + 1,) + r for i, r in enumerate(rows)]
    return out


_NATION = pa.table({
    "n_nationkey": pa.array(range(25), pa.int32()),
    "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
    "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
})
_REGION = pa.table({
    "r_regionkey": pa.array(range(5), pa.int32()),
    "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]),
})


class _ParquetWithInvariantDims:
    """`pyarrow.parquet` for gen_sf, except that its nation and region
    copies come from the invariant tables above instead of a fixture
    directory outside the checkout."""

    def __getattr__(self, name):
        return getattr(pq, name)

    @staticmethod
    def read_table(path, *args, **kwargs):
        dims = {"nation": _NATION, "region": _REGION}
        stem = Path(str(path)).stem
        if stem in dims:
            return dims[stem]
        return pq.read_table(path, *args, **kwargs)


def gen_sf_tables(out_dir, seed, sf, repo_root):
    spec = importlib.util.spec_from_file_location(
        "gen_sf", Path(repo_root) / "tools" / "gen_sf.py")
    gen_sf = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(gen_sf)
    gen_sf.SEED = seed
    gen_sf.pq = _ParquetWithInvariantDims()
    gen_sf.print = lambda *a, **k: None  # keep the bench's stdout to itself
    gen_sf.main(sf, str(out_dir))
    return {"sf": sf}


def ensure(cache_root, kind, seed, size, repo_root):
    """The input directory for (kind, seed, size), generated on first use."""
    key = f"{kind}-seed{seed}-" + "-".join(f"{k}{v}" for k, v in sorted(size.items()))
    out = Path(cache_root) / key
    if (out / "manifest.json").exists():
        out.touch()
        return out
    shutil.rmtree(out, ignore_errors=True)
    out.mkdir(parents=True)
    if kind == "matches":
        manifest = gen_matches(out, seed, size["leagues"], size["clubs"])
    else:
        manifest = gen_sf_tables(out, seed, size["sf"], repo_root)
    manifest["bytes"] = sum(p.stat().st_size for p in out.rglob("*.parquet"))
    (out / "manifest.json").write_text(json.dumps(manifest))
    return out


def prune(cache_root, keep):
    """Delete all but the `keep` most recently used input directories."""
    dirs = sorted((d for d in Path(cache_root).iterdir() if d.is_dir()),
                  key=lambda d: d.stat().st_mtime, reverse=True)
    for d in dirs[keep:]:
        shutil.rmtree(d, ignore_errors=True)


def digest(path):
    """sha256 over every parquet file under `path`, in name order."""
    h = hashlib.sha256()
    for p in sorted(Path(path).rglob("*.parquet")):
        h.update(p.relative_to(path).as_posix().encode())
        h.update(p.read_bytes())
    return h.hexdigest()
