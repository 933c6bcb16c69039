"""Seeded input generator for the benchmark.

Everything the flagship workloads read is written here, from one
``numpy.random.Generator``: the taxonomy backbone, an occurrence batch,
and taxa CSVs with their YAML configs. The program receives only these
files. The registry workload reads the committed ``sf0.01`` tables.

Planted cases the flagship oracle must get right:
  * synonyms (redirect to the accepted key) and synonyms whose accepted
    key is missing (unresolvable);
  * species names shared by two accepted species (ambiguous -> NULL);
  * genus names reused across kingdoms (resolved only when the config
    scopes the kingdom) and reused by a species (resolved by rank);
  * DOUBTFUL species and non-backbone taxa (never expansion children);
  * occurrence coordinates on the 0.01 degree grid, polygon vertices
    off it, so no point lies on a polygon edge.
"""

from __future__ import annotations

import csv
import os
from collections import Counter
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BACKBONE = "d7dddbf4-2cf0-4f39-9b2a-bb099caae36c"
OTHER_DATASET = "7ddf754f-d193-4cc9-b351-99906754a03b"
KINGDOMS = ("Animalia", "Plantae")
HABITATS = ("TERRESTRIAL", "FRESHWATER", "MARINE")
# country -> (min_lon, min_lat) of its 8 x 6 degree box
COUNTRIES = {
    "PT": (-10.0, 36.0), "ES": (-2.0, 36.0), "IT": (6.0, 36.0),
    "GR": (14.0, 36.0), "FR": (-10.0, 42.0), "DE": (-2.0, 42.0),
    "PL": (6.0, 42.0), "RO": (14.0, 42.0), "GB": (-10.0, 48.0),
    "NO": (-2.0, 48.0),
}
BOX_W, BOX_H = 8.0, 6.0

N_FAMILIES = 240
GENERA_PER_FAMILY = 8
SPECIES_PER_GENUS = 6

_SYL = [a + b for a in "bcdfglmnprstvz" for b in "aeiou"]


def _word(i: int, perm: np.ndarray, width: int) -> str:
    """Unique pronounceable word for index ``i`` (base-70 syllables)."""
    out = []
    for _ in range(width):
        out.append(_SYL[perm[i % len(_SYL)]])
        i //= len(_SYL)
    return "".join(out)


class Taxonomy:
    """Backbone arrays; written once per run as ``taxonomy.parquet``."""

    def __init__(self, rng: np.random.Generator) -> None:
        perm = rng.permutation(len(_SYL))
        nf = N_FAMILIES
        ng = nf * GENERA_PER_FAMILY
        ns = ng * SPECIES_PER_GENUS
        fam_key = 1000 + np.arange(nf)
        gen_key = 100_000 + np.arange(ng)
        sp_key = 1_000_000 + np.arange(ns)
        fam_kingdom = np.where(np.arange(nf) < nf // 2, 0, 1)
        gen_fam = np.arange(ng) // GENERA_PER_FAMILY
        sp_gen = np.arange(ns) // SPECIES_PER_GENUS

        fam_name = [_word(i, perm, 2).capitalize() + "idae" for i in range(nf)]
        gen_name = [_word(i, perm, 3).capitalize() + "us" for i in range(ng)]
        sp_name = [
            f"{gen_name[sp_gen[i]]} {_word(i, perm, 3)}a" for i in range(ns)
        ]
        # genus homonyms across kingdoms: a Plantae genus takes the name
        # of an Animalia genus
        plant_gen = np.flatnonzero(fam_kingdom[gen_fam] == 1)
        animal_gen = np.flatnonzero(fam_kingdom[gen_fam] == 0)
        for g in rng.choice(plant_gen, ng // 40, replace=False):
            gen_name[g] = gen_name[rng.choice(animal_gen)]
        # ambiguous species: two accepted species of one kingdom share a name
        sp_kingdom = fam_kingdom[gen_fam[sp_gen]]
        dup = rng.choice(ns, ns // 50, replace=False)
        for s in dup:
            same = np.flatnonzero(sp_kingdom == sp_kingdom[s])
            sp_name[s] = sp_name[rng.choice(same)]
        # rank homonyms: a species carries its own genus name
        for s in rng.choice(ns, ns // 100, replace=False):
            sp_name[s] = gen_name[sp_gen[s]]

        sp_status = np.where(rng.random(ns) < 0.05, "DOUBTFUL", "ACCEPTED")
        nsyn = ns // 10
        syn_acc = rng.choice(ns, nsyn, replace=False)
        syn_key = 5_000_000 + np.arange(nsyn)
        syn_name = [
            f"{gen_name[sp_gen[a]]} {_word(i, perm, 3)}oides"
            for i, a in enumerate(syn_acc)
        ]
        syn_accepted = sp_key[syn_acc].astype(object)
        syn_accepted[rng.random(nsyn) < 0.05] = None  # orphan synonyms

        n = nf + ng + ns + nsyn + 2
        self.key = np.concatenate([[1, 2], fam_key, gen_key, sp_key, syn_key])
        self.parent = np.concatenate(
            [[-1, -1], fam_kingdom + 1, fam_key[gen_fam], gen_key[sp_gen],
             gen_key[sp_gen[syn_acc]]]
        )
        self.name = list(KINGDOMS) + fam_name + gen_name + sp_name + syn_name
        self.rank = (
            ["KINGDOM"] * 2 + ["FAMILY"] * nf + ["GENUS"] * ng
            + ["SPECIES"] * (ns + nsyn)
        )
        self.kingdom = np.concatenate(
            [[0, 1], fam_kingdom, fam_kingdom[gen_fam],
             sp_kingdom, sp_kingdom[syn_acc]]
        )
        self.status = (
            ["ACCEPTED"] * (2 + nf + ng) + list(sp_status) + ["SYNONYM"] * nsyn
        )
        self.is_synonym = np.arange(n) >= n - nsyn
        self.accepted = [None] * (n - nsyn) + list(syn_accepted)
        self.habitat = rng.integers(0, 3, n)
        self.backbone = rng.random(n) >= 0.03
        self.fam_idx = 2 + np.arange(nf)
        self.gen_idx = 2 + nf + np.arange(ng)
        self.sp_idx = 2 + nf + ng + np.arange(ns)
        self.syn_idx = 2 + nf + ng + ns + np.arange(nsyn)

    def write(self, path: str) -> None:
        table = pa.table(
            {
                "key": pa.array(self.key, pa.int64()),
                "parent_key": pa.array(
                    [None if p < 0 else int(p) for p in self.parent], pa.int64()
                ),
                "canonical_name": pa.array(self.name, pa.string()),
                "rank": pa.array(self.rank, pa.string()),
                "kingdom": pa.array([KINGDOMS[k] for k in self.kingdom]),
                "taxonomic_status": pa.array(self.status, pa.string()),
                "is_synonym": pa.array(self.is_synonym, pa.bool_()),
                "accepted_key": pa.array(self.accepted, pa.int64()),
                "habitat": pa.array([HABITATS[h] for h in self.habitat]),
                "dataset_key": pa.array(
                    [BACKBONE if b else OTHER_DATASET for b in self.backbone]
                ),
            }
        )
        pq.write_table(table, path)


def occurrence_batch(
    rng: np.random.Generator, tax: Taxonomy, n_rows: int, path: str,
    first_id: int = 0,
) -> None:
    """``n_rows`` occurrences in one parquet file of 8 row groups.

    About 60% of species and 30% of genera ever occur, with a skewed
    head; coordinates sit on the 0.01 degree grid inside the country box.
    """
    sp = tax.sp_idx[rng.random(len(tax.sp_idx)) < 0.6]
    ge = tax.gen_idx[rng.random(len(tax.gen_idx)) < 0.3]
    pool = np.concatenate([sp, ge])
    weight = 1.0 / np.arange(1, len(pool) + 1) ** 0.7
    pool = rng.permutation(pool)
    idx = pool[rng.choice(len(pool), n_rows, p=weight / weight.sum())]
    codes = np.array(list(COUNTRIES))
    # every country holds about the same number of occurrences, so a
    # polygon over four of them reads about as much data whatever the seed
    ci = rng.integers(len(codes), size=n_rows)
    origin = np.array([COUNTRIES[c] for c in codes])
    lon = np.round(origin[ci, 0] + rng.random(n_rows) * BOX_W, 2)
    lat = np.round(origin[ci, 1] + rng.random(n_rows) * BOX_H, 2)
    t0 = np.datetime64("2020-01-01T00:00:00", "us")
    ts = t0 + rng.integers(0, 366 * 86400 * 10**6, n_rows).astype("timedelta64[us]")
    rank = np.array(tax.rank, dtype=object)[idx]
    table = pa.table(
        {
            "occurrence_id": pa.array(first_id + np.arange(n_rows), pa.int64()),
            "taxon_key": pa.array(tax.key[idx], pa.int64()),
            "taxon_rank": pa.array(rank, pa.string()),
            "country": pa.array(codes[ci], pa.string()),
            "decimal_lon": pa.array(lon, pa.float64()),
            "decimal_lat": pa.array(lat, pa.float64()),
            "event_ts": pa.array(ts, pa.timestamp("us")),
        }
    )
    pq.write_table(table, path, row_group_size=max(1, -(-n_rows // 8)))


# grid corners where four country boxes meet
CORNERS = ((-2.0, 42.0), (6.0, 42.0), (14.0, 42.0), (-2.0, 48.0))


def polygon(rng: np.random.Generator) -> tuple[str, list[tuple[float, float]]]:
    """Convex polygon (points on an ellipse) near a CORNERS point, as
    WKT and as its closed ring, with vertices off the 0.01 degree grid.

    One vertex lies within 45 degrees of each axis direction, so the
    polygon crosses both grid lines through the corner and its bounding
    box overlaps exactly the four boxes that meet there: every request
    reads four country partitions, whatever the seed."""
    cx, cy = CORNERS[rng.integers(len(CORNERS))]
    cx, cy = cx + rng.uniform(-1, 1), cy + rng.uniform(-0.75, 0.75)
    rx, ry = rng.uniform(4, 5), rng.uniform(3, 3.5)
    axes = np.arange(4) * np.pi / 2 + rng.uniform(-np.pi / 4, np.pi / 4, 4)
    extra = rng.uniform(0, 2 * np.pi, int(rng.integers(2, 6)))
    ang = np.sort(np.concatenate([axes, extra]) % (2 * np.pi))
    ring = [
        (round(np.floor((cx + rx * np.cos(a)) * 100) / 100 + rng.uniform(0.001, 0.009), 6),
         round(np.floor((cy + ry * np.sin(a)) * 100) / 100 + rng.uniform(0.001, 0.009), 6))
        for a in ang
    ]
    ring.append(ring[0])
    wkt = "POLYGON((" + ", ".join(f"{x:.6f} {y:.6f}" for x, y in ring) + "))"
    return wkt, ring


# (share of rows, kind) of a taxa CSV; kinds map to name pools below
COUNTRY_MIX = (
    (0.50, "species"), (0.10, "synonym"), (0.10, "genus"), (0.04, "family"),
    (0.08, "homonym"), (0.10, "unknown"), (0.08, "null"),
)
EXPAND_MIX = (
    (0.34, "species"), (0.06, "synonym"), (0.30, "genus"), (0.10, "family"),
    (0.06, "homonym"), (0.08, "unknown"), (0.06, "null"),
)


def taxa_csv(
    rng: np.random.Generator, tax: Taxonomy, n_rows: int, mix, path: str
) -> None:
    """Taxa CSV with columns row_id, scientific_name, taxon_rank, remarks.

    ``NA`` marks a missing name or rank, as the engine's reader expects.
    """
    pools = {
        "species": tax.sp_idx, "synonym": tax.syn_idx, "genus": tax.gen_idx,
        "family": tax.fam_idx,
    }
    homonyms = _homonym_idx(tax)
    shares = np.array([s for s, _ in mix])
    kinds = rng.choice(len(mix), n_rows, p=shares / shares.sum())
    with open(path, "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(["row_id", "scientific_name", "taxon_rank", "remarks"])
        for i, k in enumerate(kinds):
            kind = mix[k][1]
            if kind == "null":
                name, rank = "NA", "NA"
            elif kind == "unknown":
                name, rank = f"Xq{rng.integers(10**6)} incognita", "SPECIES"
            else:
                pool = homonyms if kind == "homonym" else pools[kind]
                t = int(pool[rng.integers(len(pool))])
                name, rank = tax.name[t], tax.rank[t]
                if kind == "homonym" or rng.random() < 0.4:
                    rank = "NA"
                if rng.random() < 0.1:
                    name = name.lower()
            w.writerow([i, name, rank, f"plot {rng.integers(100)}, site {i % 7}"])


def _homonym_idx(tax: Taxonomy) -> np.ndarray:
    seen = Counter(tax.name)
    return np.array([i for i, n in enumerate(tax.name) if seen[n] > 1])


def write_config(path: str, taxonomy: str, snapshot: str, **keys) -> None:
    lines = [
        "name_column: scientific_name",
        "rank_column: taxon_rank",
        f"taxonomy_path: {taxonomy}",
        f"occurrence_path: {snapshot}",
    ]
    # quoted, so YAML reads a country such as NO (Norway) as a string,
    # not as the boolean false
    lines += [f"{k}: {v!r}" for k, v in keys.items() if v is not None]
    with open(path, "w") as f:
        f.write("\n".join(lines) + "\n")


@dataclass
class Request:
    """One ``cli.main`` request: its input files, its output directory
    and the zone and scoping keys its config carries."""

    taxa_csv: str
    config: str
    out: str
    taxonomy: str
    snapshot: str
    tag_mode: bool
    country: str | None = None
    ring: list | None = None
    kingdom: str | None = None
    resolve_to_rank: str | None = None
    habitat: str | None = None


def flagship_inputs(
    seed: int, work: str, n_requests: int, expand: bool,
    occurrence_rows: int, taxa_rows: int,
) -> list[Request]:
    """Write the taxonomy, one occurrence batch and ``n_requests`` taxa
    CSVs with configs under ``work/data``. The snapshot the configs name
    (``data/snapshot``) is left for the program to write from
    ``data/occurrence_batch.parquet``."""
    rng = np.random.default_rng(seed)
    d = os.path.join(work, "data")
    os.makedirs(d)
    taxonomy = os.path.join(d, "taxonomy.parquet")
    snapshot = os.path.join(d, "snapshot")
    tax = Taxonomy(rng)
    tax.write(taxonomy)
    occurrence_batch(rng, tax, occurrence_rows,
                     os.path.join(d, "occurrence_batch.parquet"))
    requests = []
    for i in range(n_requests):
        req = Request(
            taxa_csv=os.path.join(d, f"taxa_{i}.csv"),
            config=os.path.join(d, f"config_{i}.yml"),
            out=os.path.join(work, "out", f"req_{i}"),
            taxonomy=taxonomy, snapshot=snapshot, tag_mode=not expand,
        )
        if expand:
            wkt, req.ring = polygon(rng)
            # one target rank and a fixed habitat cycle keep operations
            # alike, so a few of them give a steady median
            req.resolve_to_rank = "SPECIES"
            req.habitat = (None, "TERRESTRIAL", None, "MARINE")[i % 4]
            keys = {"geometry": wkt, "resolve_to_rank": req.resolve_to_rank,
                    "habitat": req.habitat}
            mix = EXPAND_MIX
        else:
            req.country = str(rng.choice(list(COUNTRIES)))
            req.kingdom = [None, None, "Animalia", "Plantae"][rng.integers(4)]
            keys = {"country": req.country, "taxa_kingdom": req.kingdom}
            mix = COUNTRY_MIX
        taxa_csv(rng, tax, taxa_rows, mix, req.taxa_csv)
        write_config(req.config, taxonomy, snapshot, **keys)
        requests.append(req)
    return requests
