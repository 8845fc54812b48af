"""Correctness checks over a run's dumps, against DuckDB over the same
parquet inputs. Each check returns a list of failure messages (empty = pass).
"""
import glob
import hashlib
import json
import os

import duckdb

# The occurrence view derived from lineitem, written independently of the
# program's own oracle text: tenth-degree coordinates, nullable year, basis
# of record id, and the five map-view keys every record belongs to.
OCC = """
CREATE VIEW occ AS
SELECT *, lat10::DOUBLE / 10.0::DOUBLE AS lat, lng10::DOUBLE / 10.0::DOUBLE AS lng
FROM (
  SELECT l_orderkey,
         ((l_orderkey*7 + l_linenumber*13) % 1700) - 850 AS lat10,
         ((l_partkey*17 + l_suppkey*23) % 3600) - 1800 AS lng10,
         CASE WHEN l_orderkey % 20 = 0 THEN NULL ELSE l_orderkey % 25 + 1992 END AS year,
         CASE l_returnflag WHEN 'A' THEN 0 WHEN 'N' THEN 1 ELSE 2 END AS bor_id,
         ['0:0', '1:' || (l_partkey % 50), '2:' || l_suppkey,
          '3:' || l_returnflag, '4:' || (l_orderkey % 7)] AS map_keys
  FROM lineitem);
CREATE VIEW occ_view AS SELECT *, unnest(map_keys) AS map_key FROM occ;
CREATE VIEW occ_px AS
SELECT map_key, year, bor_id,
  least(greatest(CAST(floor((lng + 180.0::DOUBLE) * (33554432.0::DOUBLE / 180.0::DOUBLE)) AS BIGINT), 0), 67108863) AS px16,
  least(greatest(CAST(floor((90.0::DOUBLE - lat) * (33554432.0::DOUBLE / 180.0::DOUBLE)) AS BIGINT), 0), 33554431) AS py16
FROM occ_view WHERE lat BETWEEN -90 AND 90 AND lng BETWEEN -180 AND 180;
"""


def connect(data_dir, tables):
    con = duckdb.connect()
    con.execute(f"SET threads TO {len(os.sched_getaffinity(0))}")
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    return con


def store(con, check_dir, max_zoom):
    """Tiles equal the q45 oracle at z0..maxZoom; every zoom of every view
    conserves the view's record count; the points store and the point blobs
    hold each view's exact count."""
    fails = []
    con.execute(OCC)
    oracle = json.load(open(f"{check_dir}/oracle_sql.json"))["q45_pyramid"]
    want = set(con.execute(
        f"SELECT map_key, z, tx, ty, n_pixels, total FROM ({oracle}) WHERE z <= {max_zoom}"
    ).fetchall())
    con.execute(f"CREATE VIEW tiles AS SELECT * FROM read_csv_auto('{check_dir}/tiles.csv', "
                "types={'map_key': 'VARCHAR'})")
    got = set(con.execute("SELECT map_key, z, tx, ty, n_pixels, total FROM tiles").fetchall())
    if got != want:
        fails.append(f"tiles vs q45_pyramid oracle: {len(got - want)} unexpected, "
                     f"{len(want - got)} missing of {len(want)}")
    dup = con.execute("SELECT count(*) FROM tiles WHERE n_rows <> 1").fetchone()[0]
    if dup:
        fails.append(f"{dup} tile keys stored more than once")
    counts = dict(con.execute("SELECT map_key, count(*) FROM occ_px GROUP BY 1").fetchall())
    bad = con.execute(f"""
        SELECT map_key, z, sum(total) FROM tiles GROUP BY 1, 2""").fetchall()
    off = [(k, z, t) for k, z, t in bad if t != counts.get(k)]
    if off:
        fails.append(f"zoom totals not conserved for {len(off)} (view, zoom) pairs, e.g. {off[0]}")
    per_zoom = {z for _, z, _ in bad}
    if per_zoom != set(range(max_zoom + 1)):
        fails.append(f"zooms present {sorted(per_zoom)}, want 0..{max_zoom}")
    lines = open(f"{check_dir}/manifest.txt").read().split("\n")
    points, threshold = lines[1], int(lines[3])
    all_counts = dict(con.execute("SELECT map_key, count(*) FROM occ_view GROUP BY 1").fetchall())
    stored = dict(con.execute(
        f"SELECT map_key, CAST(sum(occ_count) AS BIGINT) FROM '{points}/*/*.parquet' GROUP BY 1"
    ).fetchall())
    if stored != all_counts:
        fails.append(f"points store view totals differ for "
                     f"{sum(1 for k in all_counts if stored.get(k) != all_counts[k])} views")
    for k, total, n in con.execute(f"SELECT * FROM read_csv_auto('{check_dir}/blobs.csv', "
                                   "types={'map_key': 'VARCHAR'})").fetchall():
        want_total = all_counts.get(k, 0) if all_counts.get(k, 0) < threshold else 0
        if total != want_total:
            fails.append(f"point blob of view {k}: total {total}, want {want_total}")
            break
    return fails


def serve_sample(con, check_dir):
    """Each sampled tile response equals DuckDB's per-pixel totals for the
    view, tile, year range and basis-of-record set."""
    fails = []
    for line in open(f"{check_dir}/serve_sample.jsonl"):
        r = json.loads(line)
        z, lo, hi = r["z"], r["years"][0], r["years"][1]
        cond = [f"map_key = '{r['view']}'",
                f"(px16 >> {16 - z}) // 512 = {r['x']}", f"(py16 >> {16 - z}) // 512 = {r['y']}"]
        if lo >= 0 or hi >= 0:
            cond.append("year IS NOT NULL")
        if lo >= 0:
            cond.append(f"year >= {lo}")
        if hi >= 0:
            cond.append(f"year <= {hi}")
        if r["bors"]:
            cond.append(f"bor_id IN ({','.join(map(str, r['bors']))})")
        want = con.execute(f"""
            SELECT (px16 >> {16 - z}) % 512, (py16 >> {16 - z}) % 512, count(*)
            FROM occ_px WHERE {' AND '.join(cond)} GROUP BY 1, 2 ORDER BY 1, 2""").fetchall()
        if [tuple(p) for p in r["pixels"]] != want:
            fails.append(f"serveTile {r['view']} z{z} ({r['x']},{r['y']}) years {r['years']} "
                         f"bors {r['bors']}: {len(r['pixels'])} pixels, want {len(want)}")
            break
    return fails


def _canon(df):
    """Order-insensitive hash of a frame: columns sorted by name, cells
    rendered exactly, rows sorted."""
    df = df.reindex(sorted(df.columns), axis=1)

    def cell(v):
        if v is None or v != v:
            return "NULL"
        return repr(v) if isinstance(v, float) else str(v)
    rows = sorted("\x1f".join(cell(v) for v in row) for row in df.itertuples(index=False))
    return hashlib.md5("\x1e".join(rows).encode()).hexdigest()


def dedup(con, check_dir):
    """Each query's result hash-matches its own DuckDB oracle SQL."""
    fails = []
    oracle = json.load(open(f"{check_dir}/oracle_sql.json"))
    expected = {}  # queries that share one oracle text run it once
    for name, sql in sorted(oracle.items()):
        if not glob.glob(f"{check_dir}/{name}/*.parquet"):
            fails.append(f"{name}: no output")
            continue
        got = con.execute(f"SELECT * FROM '{check_dir}/{name}/*.parquet'").df()
        if sql not in expected:
            expected[sql] = con.execute(sql).df()
        want = expected[sql]
        if sorted(got.columns) != sorted(want.columns) or len(got) != len(want):
            fails.append(f"{name}: columns/rows {sorted(got.columns)}/{len(got)} "
                         f"want {sorted(want.columns)}/{len(want)}")
        elif _canon(got) != _canon(want):
            fails.append(f"{name}: result hash differs from oracle ({len(got)} rows)")
    return fails


def changed_ratio(con, store_dir, first, last):
    """Mean share of tiles per new version whose blob is new or differs from
    the previous version's (versions first..last)."""
    ratios = []
    for v in range(first, last + 1):
        cur, prev = f"{store_dir}/v{v}/tiles", f"{store_dir}/v{v - 1}/tiles"
        if not os.path.isdir(prev):
            ratios.append(1.0)
            continue
        n, changed = con.execute(f"""
            SELECT count(*), count(*) FILTER (WHERE p.key IS NULL OR p.mvt <> c.mvt)
            FROM '{cur}/*/*/*/*.parquet' c
            LEFT JOIN '{prev}/*/*/*/*.parquet' p USING (key)""").fetchone()
        ratios.append(changed / n if n else 0.0)
    return sum(ratios) / len(ratios) if ratios else 0.0
