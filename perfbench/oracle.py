"""Independent expected outputs, computed with DuckDB from the same files.

The flagship oracle restates the resolution rules in SQL (exact
case-insensitive name match, kingdom and rank scoping, ambiguous -> NULL,
synonym -> accepted key), tags against the zone's distinct taxon keys
(even-odd ray casting for polygons) and expands with a recursive CTE.
The registry oracle is the repo's own ``oracle_sql()`` compared through
the canonical value hash of ``tools/check_correctness.py``.

The runner calls :func:`check_request` and :func:`check_registry` in a
helper process, so the oracle's memory stays out of the driver's peak
RSS. Each caches its expected output per request or query there.
"""

from __future__ import annotations

import csv
import glob
import json
import os
import sys

import duckdb

RANKS = ("KINGDOM", "PHYLUM", "CLASS", "ORDER", "FAMILY", "GENUS", "SPECIES")
BACKBONE = "d7dddbf4-2cf0-4f39-9b2a-bb099caae36c"
TOOLS = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools")

_con: duckdb.DuckDBPyConnection | None = None
_expected: dict = {}


def connect() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads = 2")
    return con


def zone_sql(snapshot: str, country: str | None, ring) -> str:
    """SELECT of the distinct taxon keys with an occurrence in the zone."""
    occ = f"read_parquet('{snapshot}/*/*.parquet', hive_partitioning = true)"
    if country:
        return (f"SELECT DISTINCT taxon_key FROM {occ} "
                f"WHERE country = '{country}' AND taxon_key IS NOT NULL")
    xs, ys = [p[0] for p in ring], [p[1] for p in ring]
    edges = " UNION ALL ".join(
        f"SELECT {x1!r} AS x1, {y1!r} AS y1, {x2!r} AS x2, {y2!r} AS y2"
        for (x1, y1), (x2, y2) in zip(ring, ring[1:])
    )
    return f"""
        SELECT DISTINCT taxon_key FROM (
          SELECT o.occurrence_id, any_value(o.taxon_key) AS taxon_key,
                 sum(CASE WHEN (e.y1 > o.decimal_lat) <> (e.y2 > o.decimal_lat)
                           AND o.decimal_lon < (e.x2 - e.x1) * (o.decimal_lat - e.y1)
                               / (e.y2 - e.y1) + e.x1
                      THEN 1 ELSE 0 END) AS crossings
          FROM (SELECT * FROM {occ}
                WHERE decimal_lon BETWEEN {min(xs)!r} AND {max(xs)!r}
                  AND decimal_lat BETWEEN {min(ys)!r} AND {max(ys)!r}) o
          CROSS JOIN ({edges}) e
          GROUP BY o.occurrence_id)
        WHERE crossings % 2 = 1 AND taxon_key IS NOT NULL"""


def expected_flagship(con, req) -> dict:
    """row_id -> (tag, names, ids) for every input row; ``names``/``ids``
    are None unless the request expands and the row is an eligible parent
    with at least one child in the zone."""
    kingdom = (f"WHERE upper(kingdom) = '{req.kingdom.upper()}'"
               if req.kingdom else "")
    rows = con.execute(f"""
        WITH taxa AS (
          SELECT CAST(row_id AS BIGINT) AS row_id, scientific_name AS name,
                 upper(taxon_rank) AS rank
          FROM read_csv('{req.taxa_csv}', header = true, all_varchar = true,
                        nullstr = 'NA')),
        dim AS (
          SELECT lower(canonical_name) AS n, upper(rank) AS r,
                 CASE WHEN is_synonym THEN accepted_key ELSE key END AS dk
          FROM read_parquet('{req.taxonomy}') {kingdom}),
        cand AS (
          SELECT t.row_id, d.dk, d.r FROM taxa t JOIN dim d
            ON d.n = lower(t.name) AND (t.rank IS NULL OR d.r = t.rank)
          WHERE d.dk IS NOT NULL),
        agg AS (SELECT row_id, count(*) AS c, min(dk) AS dk, min(r) AS r
                FROM cand GROUP BY row_id),
        zone AS ({zone_sql(req.snapshot, req.country, req.ring)})
        SELECT t.row_id,
               CASE WHEN a.c = 1 THEN a.dk END AS key,
               CASE WHEN a.c = 1 THEN a.r ELSE t.rank END AS rank,
               CASE WHEN a.c = 1 THEN a.dk IN (SELECT taxon_key FROM zone) END
        FROM taxa t LEFT JOIN agg a USING (row_id)""").fetchall()
    out = {rid: (tag, None, None) for rid, _, _, tag in rows}
    target = req.resolve_to_rank
    if not target:
        return out
    eligible = {rid: key for rid, key, rank, tag in rows
                if tag and rank in ("FAMILY", "GENUS") and rank != target}
    if not eligible:
        return out
    habitat = (f"AND upper(t.habitat) = '{req.habitat.upper()}'"
               if req.habitat else "")
    parents = ",".join(str(k) for k in set(eligible.values()))
    children = con.execute(f"""
        WITH RECURSIVE walk(root, k, r, depth) AS (
          SELECT t.parent_key, t.key, upper(t.rank), 1
          FROM read_parquet('{req.taxonomy}') t WHERE t.parent_key IN ({parents})
          UNION ALL
          SELECT w.root, t.key, upper(t.rank), w.depth + 1
          FROM walk w JOIN read_parquet('{req.taxonomy}') t ON t.parent_key = w.k
          WHERE w.r <> '{target}' AND w.depth < {RANKS.index(target)})
        SELECT w.root, t.canonical_name, t.key
        FROM walk w JOIN read_parquet('{req.taxonomy}') t ON t.key = w.k
        WHERE w.r = '{target}' AND t.taxonomic_status = 'ACCEPTED'
          AND t.dataset_key = '{BACKBONE}' {habitat}
          AND t.key IN ({zone_sql(req.snapshot, req.country, req.ring)})
        """).fetchall()
    by_parent: dict[int, list] = {}
    for root, name, key in children:
        by_parent.setdefault(root, []).append((name, key))
    for rid, key in eligible.items():
        kids = sorted(by_parent.get(key, []))
        if kids:
            out[rid] = (True, tuple(n for n, _ in kids), tuple(k for _, k in kids))
    return out


def read_output(path: str) -> tuple[list[str], dict]:
    """Header and row_id -> (tag or None, names, ids) of a CSV sink dir."""
    header, rows = None, {}
    for part in sorted(glob.glob(os.path.join(path, "part-*.csv"))):
        with open(part, newline="") as f:
            r = csv.reader(f, escapechar="\\", doublequote=False)
            header = next(r, header)
            for rec in r:
                cell = dict(zip(header, rec))
                tag = {"true": True, "false": False}.get(cell.get("gbif_filter_tag"))
                arrays = [tuple(json.loads(v)) if v not in ("NA", "") else None
                          for k, v in cell.items() if k.startswith("gbif_filter_resolved_")]
                names, ids = arrays if arrays else (None, None)
                rows[int(cell["row_id"])] = (tag, names, ids)
    return header or [], rows


def check_flagship(expected: dict, out_dir: str, req) -> str | None:
    """None when the sink matches the oracle, else a one-line reason."""
    header, got = read_output(out_dir)
    want_cols = ["row_id", "scientific_name", "taxon_rank", "remarks"]
    if req.tag_mode:
        want_cols.append("gbif_filter_tag")
    if req.resolve_to_rank:
        t = req.resolve_to_rank.lower()
        want_cols += [f"gbif_filter_resolved_{t}_names", f"gbif_filter_resolved_{t}_ids"]
    if header != want_cols:
        return f"header {header} != {want_cols}"
    if req.tag_mode:
        want = expected
    else:
        want = {rid: (None, n, i) for rid, (tag, n, i) in expected.items() if tag}
    if got != want:
        diff = sorted(set(got.items()) ^ set(want.items()), key=str)[:3]
        return f"{len(got)} rows vs {len(want)} expected; e.g. {diff}"
    return None


def tag_counts(expected: dict) -> dict:
    tags = [t for t, _, _ in expected.values()]
    return {"tagged_true": tags.count(True), "tagged_false": tags.count(False),
            "tagged_null": tags.count(None)}


def _connection() -> duckdb.DuckDBPyConnection:
    global _con
    if _con is None:
        _con = connect()
    return _con


def check_request(req) -> tuple[str | None, dict]:
    """Compare a request's sink at ``req.out`` with the oracle. Returns
    the mismatch (None when it matches) and the oracle's tag counts."""
    if req.config not in _expected:
        _expected[req.config] = expected_flagship(_connection(), req)
    want = _expected[req.config]
    return check_flagship(want, req.out, req), tag_counts(want)


def check_registry(data_dir: str, query: str, sql: str, got) -> str | None:
    """Compare a registry query's collected rows with its oracle SQL run
    over the parquet tables in ``data_dir``."""
    if TOOLS not in sys.path:
        sys.path.insert(0, TOOLS)
    import check_correctness as cc

    con = _connection()
    if query not in _expected:
        for f in glob.glob(os.path.join(data_dir, "*.parquet")):
            table = os.path.basename(f)[: -len(".parquet")]
            con.execute(f"CREATE OR REPLACE VIEW {table} AS SELECT * FROM '{f}'")
        _expected[query] = con.execute(sql).fetchdf()
    want = _expected[query]
    digest = [(sorted(df.columns), cc.value_hash(cc.canon(df))) for df in (got, want)]
    return None if digest[0] == digest[1] else f"{query}: rows differ from oracle"

