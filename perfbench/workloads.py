"""The benchmark's workloads: each is one client in a closed loop.

A workload builds its inputs in ``setup`` (untimed as latency, counted
in ``setup_s``), runs one operation per ``op`` call through a public
entry point, and checks that operation's output in ``check`` outside
the timed window. ``traced_op`` runs the same operation with a span
around each call into a layer, checks it, and keeps the per-layer
counts in ``layer``.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import Observation
from pyspark.sql import functions as F

from gbif_filter_python_spark import cli
from gbif_filter_python_spark.config import FilterConfig
from gbif_filter_python_spark.engine import OccurrenceEngine
from gbif_filter_python_spark.operators.expansion import expand_children
from gbif_filter_python_spark.operators.resolution import (
    KEY_COL,
    RANK_COL,
    resolve_names,
)
from gbif_filter_python_spark.operators.spatial import zone_filter
from gbif_filter_python_spark.operators.tagging import (
    TAG_COL,
    apply_filter_mode,
    apply_tag_mode,
    occurrence_keys,
    quoted,
    tag_existence,
)
from gbif_filter_python_spark.sources.io import (
    read_taxa_csv,
    write_csv,
    write_occurrence_snapshot,
)
from gbif_filter_python_spark.sources.providers import ParquetSnapshotProvider

import gen
import oracle

OCCURRENCE_ROWS = 100_000
TAXA_ROWS = 5_000
SF_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "sf0.01")


def du(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path) for f in files
    )


def force(df) -> None:
    """Run ``df`` to completion without a real sink."""
    df.write.format("noop").mode("overwrite").save()


class Flagship:
    """``cli.main`` requests against a country-partitioned snapshot.

    ``expand`` selects the polygon + expansion variant (filter mode);
    otherwise requests tag against a country zone. Inputs are generated
    and outputs checked in the ``helper`` process.
    """

    # operations per pass, warm-up operations, the pass time a window
    # is sized by (--seconds 18 gives three requests), and the spans that
    # together are one request as ``cli.main`` serves it. Requests keep
    # getting faster for about five requests while the JIT compiler
    # works through Spark's code (the first takes 15-17 s, the fourth
    # about 4.5 s), so three warm up and the measured ones start near
    # the plateau.
    pass_len = 1
    warm_ups = 3
    nominal_pass_s = 6.0
    request_spans = ("cli.config_parse", "providers.open", "engine.run_filter")

    def __init__(self, spark, work: str, seed: int, tracer, helper,
                 expand: bool) -> None:
        self.spark, self.work, self.seed = spark, work, seed
        self.tracer, self.helper, self.expand = tracer, helper, expand
        self.requests: list[gen.Request] = []
        self.layer: list[dict] = []
        self.expected_counts: dict = {}

    @classmethod
    def inputs(cls, helper, seed: int, work: str, n_requests: int, expand: bool):
        """Start generating the inputs in ``helper``; returns the future."""
        return helper.submit(gen.flagship_inputs, seed, work, n_requests,
                             expand, OCCURRENCE_ROWS, TAXA_ROWS)

    def setup(self, inputs) -> None:
        self.requests = inputs.result()
        raw = os.path.join(self.work, "data", "occurrence_batch.parquet")
        snapshot = self.requests[0].snapshot
        with self.tracer.span("io.write_snapshot", 0):
            write_occurrence_snapshot(self.spark.read.parquet(raw), snapshot)
        self.setup_layer = {
            "io.snapshot_bytes_per_row": du(snapshot) / OCCURRENCE_ROWS,
        }

    def _req(self, i: int) -> gen.Request:
        # warm-ups have negative indices
        return self.requests[self.warm_ups + i]

    def op(self, i: int) -> str | None:
        req = self._req(i)
        argv = [req.config, req.taxa_csv, req.out] + (["--tag"] if req.tag_mode else [])
        rc = cli.main(argv)
        return None if rc == 0 else f"cli.main exit code {rc}"

    def check(self, i: int) -> str | None:
        req = self._req(i)
        err, self.expected_counts = self.helper.submit(
            oracle.check_request, req).result()
        shutil.rmtree(req.out, ignore_errors=True)
        return err

    def traced_op(self, i: int) -> str | None:
        """The request as ``cli.main`` runs it, then the same pipeline
        rebuilt from its public pieces with one span per layer."""
        req, span, spark = self._req(i), self.tracer.span, self.spark
        with span("cli.config_parse", i):
            cfg = FilterConfig.from_yaml(req.config)
            paths = cli.cfg_extra_paths(req.config)
        with span("providers.open", i):
            provider = ParquetSnapshotProvider(
                spark, paths["taxonomy_path"], paths["occurrence_path"])
            tax, occ = provider.taxonomy(), provider.occurrences()
        role_cols = [cfg.name_column, cfg.rank_column]
        obs = Observation()
        with span("engine.run_filter", i):
            taxa = read_taxa_csv(spark, req.taxa_csv, sep=cfg.sep, role_columns=role_cols)
            out = OccurrenceEngine(tax, occ).run_filter(
                taxa, cfg, tag_mode=req.tag_mode, observation=obs)
            write_csv(out, req.out, sep=cfg.sep)
        err = self.check(i)
        run_filter_counts = {k: v for k, v in obs.get.items() if k != "rows"}

        with span("io.read_taxa_csv", i):
            taxa = read_taxa_csv(spark, req.taxa_csv, sep=cfg.sep,
                                 role_columns=role_cols).cache()
            force(taxa)
        input_cols = list(taxa.columns)
        with span("resolution.resolve_names", i):
            resolved = resolve_names(taxa, tax, cfg).cache()
            force(resolved)
        with span("spatial.zone_filter", i):
            zone = zone_filter(occ, cfg.zone).cache()
            force(zone)
        with span("tagging.tag_existence", i):
            probe = (occurrence_keys(zone).localCheckpoint(eager=True)
                     if cfg.resolve_to_rank else zone)
            tagged = tag_existence(resolved, probe).cache()
            force(tagged)
        rebuilt = {
            f"tagged_{k}": tagged.filter(cond).count()
            for k, cond in (("true", F.col(TAG_COL).eqNullSafe(True)),
                            ("false", F.col(TAG_COL).eqNullSafe(False)),
                            ("null", F.col(TAG_COL).isNull()))
        }
        layer = {"expansion.parents": 0, "expansion.children": 0}
        resolved_cols: list[str] = []
        if cfg.resolve_to_rank:
            target = cfg.resolve_to_rank
            eligible = (F.col(RANK_COL).isin("FAMILY", "GENUS")
                        & (F.col(RANK_COL) != target)
                        & F.col(TAG_COL).eqNullSafe(F.lit(True)))
            with span("expansion.expand_children", i):
                parents = (tagged.filter(eligible)
                           .select(F.col(KEY_COL).alias("parent")).distinct())
                arrays = expand_children(tax, parents, target,
                                         zone_occurrence_keys=probe,
                                         habitat=cfg.habitat).cache()
                force(arrays)
            layer["expansion.parents"] = parents.count()
            layer["expansion.children"] = arrays.select(
                F.sum(F.size("resolved_ids"))).first()[0] or 0
            names_col = f"gbif_filter_resolved_{target.lower()}_names"
            ids_col = f"gbif_filter_resolved_{target.lower()}_ids"
            resolved_cols = [names_col, ids_col]
            tagged = (tagged.join(arrays, tagged[KEY_COL].eqNullSafe(arrays["parent"])
                                  & eligible, "left")
                      .drop("parent")
                      .withColumnsRenamed({"resolved_names": names_col,
                                           "resolved_ids": ids_col}))
        if req.tag_mode:
            final = apply_tag_mode(tagged, input_cols, resolved_cols)
        else:
            final = apply_filter_mode(tagged).select(
                *[quoted(c) for c in (*input_cols, *resolved_cols)])
        with span("io.write_csv", i):
            write_csv(final, req.out, sep=cfg.sep)
        layer["io.bytes_written"] = du(req.out)
        err = err or self.check(i)

        if rebuilt != run_filter_counts:
            err = err or f"rebuilt tag counts {rebuilt} != run_filter {run_filter_counts}"
        if rebuilt != self.expected_counts:
            err = err or f"tag counts {rebuilt} != oracle {self.expected_counts}"
        named = taxa.filter(F.col(cfg.name_column).isNotNull()).count()
        layer.update({f"tagging.{k}": v for k, v in rebuilt.items()})
        layer.update({
            "resolution.distinct_tuples": taxa.select(
                cfg.name_column, F.upper(cfg.rank_column)).distinct().count(),
            "resolution.resolved_ratio":
                resolved.filter(F.col(KEY_COL).isNotNull()).count() / max(named, 1),
            "spatial.rows_in_zone_ratio": zone.count() / OCCURRENCE_ROWS,
            "tagging.zone_keys": occurrence_keys(zone).count(),
        })
        if i >= 0:
            self.layer.append(layer)
        spark.catalog.clearCache()
        return err


# registry queries by the package layer they exercise
REGISTRY = (
    ("profile", "robust_outliers"),
    ("graph", "k_core"),
    ("dedup", "minhash_dedup"),
    ("fuzzy", "fuzzy_name_match"),
)


class Registry:
    """One operation = one REGISTRY query through
    ``__spark_entry__.queries()`` over the committed ``sf0.01`` tables,
    collected to pandas. A pass runs every query once, in REGISTRY
    order; the seed changes nothing here. The rows are compared with
    ``oracle_sql()`` in the ``helper`` process, outside the timed
    window."""

    # a seeded order gave each seed its own speed for the whole run,
    # warm-up included (one order ran its pass in 14 s twice, another
    # in 19 s twice), so the order is fixed. Passes get faster until
    # the third (about 31, 13 and 9.5 s), so two warm up; --seconds 18
    # measures two, as one query of one pass moved by 10-15% from run
    # to run.
    pass_len = len(REGISTRY)
    warm_ups = 2 * pass_len
    nominal_pass_s = 9.0
    request_spans = tuple(f"{layer}.{q}" for layer, q in REGISTRY)

    def __init__(self, spark, tracer, helper) -> None:
        self.spark, self.tracer, self.helper = spark, tracer, helper
        import __spark_entry__

        self.queries = __spark_entry__.queries()
        self.oracles = __spark_entry__.oracle_sql()
        self.result = None
        self.layer: list[dict] = []
        self.setup_layer: dict = {}

    @classmethod
    def inputs(cls, helper, seed: int, work: str, n_ops: int, expand: bool):
        return None

    def setup(self, inputs) -> None:
        pass

    def op(self, i: int) -> str | None:
        layer, q = REGISTRY[i % self.pass_len]
        with self.tracer.span(f"{layer}.{q}", i):
            self.result = self.queries[q](self.spark, SF_DIR).toPandas()
        return None

    def check(self, i: int) -> str | None:
        q = REGISTRY[i % self.pass_len][1]
        got, self.result = self.result, None
        return self.helper.submit(
            oracle.check_registry, SF_DIR, q, self.oracles[q], got).result()

    def traced_op(self, i: int) -> str | None:
        return self.op(i) or self.check(i)
