"""Per-layer metrics of a traced run (README.md lists each with the
end-to-end metric it should move).

`install` wraps the engine's public entry points into each layer; the
wrappers record spans only while the tracer is enabled and are removed
after the traced phase. `per_layer` turns the spans, the Spark stage
metrics charged to them, the traced run's counters and single-core kernel
timings on regenerated inputs into one number per layer.
"""

from __future__ import annotations

import json
import os
import statistics

import numpy as np

import check
import kernels
from spans import spark_stage_metrics, task_skew
from workloads import CHECK_CONVS

KERNEL_REPEATS = 3
OK_KERNEL_GROUPS = 12


def install(tracer) -> None:
    from spinterps_spark.plans.checkpoint import CheckpointLog
    from spinterps_spark.sources.tableformat import ParquetTierTables

    def note_deltas(_tracer, rec, out):
        rec["deltas"] = len(out[1])

    tracer.wrap_function("spinterps_spark.plans.checkpoint", "run_waved_pass",
                         "waved", label_arg="tier")
    tracer.wrap_function("spinterps_spark.plans.generations", "current_chunks",
                         "generations.resolve.chunks")
    tracer.wrap_function("spinterps_spark.plans.generations", "current_rollup",
                         "generations.resolve.rollup")
    tracer.wrap_function("spinterps_spark.plans.generations", "generation_plan",
                         "generations.plan", on_result=note_deltas)
    for attr in ("append", "done_waves", "read"):
        tracer.wrap_method(CheckpointLog, attr, f"checkpoint.{attr}")
    tracer.wrap_method(ParquetTierTables, "commit_tier", "tableformat.commit")
    for attr in ("snapshots", "committed"):
        tracer.wrap_method(ParquetTierTables, attr, f"tableformat.read.{attr}")


class _Spans:
    """Span tree helpers over one tracer's spans."""

    def __init__(self, tracer, stage_metrics: dict):
        self.tr = tracer
        self.by_id = {s["id"]: s for s in tracer.spans}
        self.kids = tracer.children()
        self.stages = stage_metrics

    def named(self, prefix: str) -> list[dict]:
        return [s for s in self.tr.spans if s["name"].startswith(prefix)]

    def subtree(self, span: dict) -> list[int]:
        out, todo = [], [span["id"]]
        while todo:
            sid = todo.pop()
            out.append(sid)
            todo.extend(k["id"] for k in self.kids.get(sid, []))
        return out

    def in_ops(self, prefix: str) -> list[dict]:
        """Spans named `prefix`* that run inside a timed operation (not in
        the benchmark's own bookkeeping), the op spans themselves included."""
        return [s for s in self.named(prefix)
                if s["name"].startswith("op:") or any(
                    self.by_id[a]["name"].startswith("op:")
                    for a in _ancestors(self, s))]

    def stage_recs(self, prefixes: tuple[str, ...]) -> list[dict]:
        ids: set[int] = set()
        for p in prefixes:
            for s in self.in_ops(p):
                ids.update(self.subtree(s))
        return [st for sid in ids for st in self.stages.get(sid, {}).get("stages", [])]

    def jobs_under(self, prefix: str) -> int:
        ids = {i for s in self.in_ops(prefix) for i in self.subtree(s)}
        return sum(len(self.stages.get(i, {}).get("jobs", [])) for i in ids)


def variogram_probe(run, wl) -> dict[int, str]:
    """Fit one variogram per conversation cluster on the run's 1h series
    through the public calls, each forced eager inside its own span (the
    empirical variogram materialized, the fitted dim collected). Returns
    the fitted model per conversation index (clusters without a fit are
    left out)."""
    from pyspark.sql import functions as F

    from spinterps_spark import datagen
    from spinterps_spark.operators import variogram as V
    from spinterps_spark.operators.rollup import base_rollup

    tr, spark = run.tracer, run.spark
    cpd = datagen.conv_coords_pandas(run.seed, len(wl.corpus.sizes))
    coords = spark.createDataFrame(cpd)
    with tr.span("variogram.evg"):
        h1 = base_rollup(wl.transcripts, "1h").where("valid").select(
            "conv_id", "bucket_ts",
            (F.col("tok_len_sum") / F.col("turn_cnt")).alias("v"))
        evg = V.empirical_variogram(h1, coords, "v", estimator="mean").cache()
        evg.count()
    with tr.span("variogram.fit"):
        fits = V.fit_cluster_variograms(evg).select("cluster_id", "vg_str").collect()
    evg.unpersist()
    vg = {int(r.cluster_id): r.vg_str for r in fits if r.vg_str != "nan"}
    return {i: vg[int(c)] for i, c in enumerate(cpd["cluster_id"]) if int(c) in vg}


def probes(run, wl) -> dict:
    """Layer probes of the traced run, after its timed phase: the variogram
    fit, then single-core fill and codec timings on the regenerated 1m
    groups of the mega-conversation and a size-stratified sample (OK with
    the models just fitted)."""
    vg_of = variogram_probe(run, wl)
    rng = np.random.default_rng(run.seed)
    corpus = check.Corpus(run.seed, wl.n_turns_target)
    convs = [0, *check.sample_convs(corpus.sizes, rng, CHECK_CONVS)]
    groups_idw, groups_ok = [], []
    for idx in convs:
        t, v = corpus.refs(idx)
        groups_idw += kernels.fused_groups(t, v)
        if idx in vg_of:
            groups_ok += kernels.fused_groups(t, v, vg_of[idx])
    idw_us, filled = kernels.fill_us_per_group(groups_idw, "IDW", KERNEL_REPEATS)
    pick = sorted(rng.choice(len(groups_ok), size=min(OK_KERNEL_GROUPS, len(groups_ok)),
                             replace=False))
    ok_us, _ = kernels.fill_us_per_group([groups_ok[i] for i in pick], "OK", 1)
    enc_ns, dec_ns, points = kernels.gorilla_ns_per_point(
        groups_idw, filled, KERNEL_REPEATS)
    run.record["kernel_input"] = {"convs": convs, "groups": len(groups_idw),
                                  "ok_groups": len(pick), "points": points}
    return {"variogram.evg_s": (run.tracer.layer_seconds("variogram.evg"), "s"),
            "variogram.fit_s": (run.tracer.layer_seconds("variogram.fit"), "s"),
            "gapfill.idw_us_per_group": (idw_us, "us"),
            "gapfill.ok_us_per_group": (ok_us, "us"),
            "gorilla.encode_ns_per_point": (enc_ns, "ns"),
            "gorilla.decode_ns_per_point": (dec_ns, "ns")}


def _mean(xs, default=0.0) -> float:
    xs = list(xs)
    return float(statistics.fmean(xs)) if xs else default


def per_layer(run, traced_wall: float, probed: dict) -> dict:
    """Per-layer metrics of the traced timed phase (run.ops)."""
    tr = run.tracer
    sp = _Spans(tr, spark_stage_metrics(run.spark))
    ops = run.ops
    n_prim = max(sum(1 for o in ops if o["primary"]), 1)
    n_ops = max(len(ops), 1)

    op_ids = {s["id"] for s in sp.named("op:")}

    def per_prim(x):
        return x / n_prim

    def busy(prefix):
        return tr.layer_seconds(prefix, within=op_ids)

    def task_s(*prefixes):
        return sum(s["task_s"] for s in sp.stage_recs(prefixes))

    # fused fill stage skew: the largest stage of each 1m fill pass
    skews = []
    for s in sp.in_ops("waved:chunks:1m") + sp.in_ops("waved:refresh_chunks:1m"):
        recs = [st for i in sp.subtree(s) for st in sp.stages.get(i, {}).get("stages", [])]
        if recs:
            big = max(recs, key=lambda r: r["task_s"])
            sk = task_skew(run.spark, big["stage"], big["attempt"])
            if sk is not None:
                skews.append(sk)

    read_ops = sp.named("op:read")
    chain = []
    for s in read_ops:
        plans = [sp.by_id[i] for i in sp.subtree(s)
                 if sp.by_id[i]["name"] == "generations.plan"]
        chain.append(max((p.get("deltas", 0) for p in plans), default=0))
    resolve = tr.layer_seconds("generations.resolve",
                               within={s["id"] for s in read_ops})
    reads = run.extra.get("read", [])
    n_refresh = sum(1 for o in ops if o["kind"] == "refresh")
    n_maint = sum(1 for o in ops if o["kind"] == "maintain")
    phase_id = sp.named("phase:timed")[0]["id"]
    top_level = [s for s in tr.spans if s["parent"] == phase_id]
    spill = sum(st["spill_b"] for st in sp.stage_recs(("op:",)))
    op_wall = sum(o["wall_s"] for o in ops)
    # the tracer's own time inside the timed operations (op spans included)
    cost = sum(s.get("cost_s", 0.0) for s in sp.in_ops(""))

    m = {
        "rollup.task_s": (per_prim(task_s("waved:rollup:")), "s"),
        "rollup.shuffle_mb": (per_prim(sum(
            s["shuffle_write_b"] for s in sp.stage_recs(("waved:rollup:",))) / 1e6), "MB"),
        "gapfill.task_s": (per_prim(task_s("waved:chunks:", "waved:refresh_chunks:")), "s"),
        "gapfill.task_skew": (statistics.median(skews) if skews else 0.0, "ratio"),
        "gapfill.points_filled": (per_prim(sum(run.extra.get("filled", []))), "count"),
        "gorilla.bytes_per_point": (
            run.record["store_1m"]["bytes"] / run.record["store_1m"]["points"], "B/pt"),
        "checkpoint.lineage_s": (per_prim(busy("checkpoint.")), "s"),
        "checkpoint.rows": (per_prim(len(sp.in_ops("checkpoint.append"))), "count"),
        "tableformat.commit_s": (per_prim(busy("tableformat.commit")), "s"),
        "tableformat.snapshots_s": (per_prim(busy("tableformat.read")), "s"),
        "tableformat.commits": (per_prim(len(sp.in_ops("tableformat.commit"))), "count"),
        "generations.resolve_s": (resolve / max(len(read_ops), 1), "s"),
        "generations.chain_len": (_mean(chain), "count"),
        "refresh.task_s": (task_s("op:refresh") / max(n_refresh, 1), "s"),
        "refresh.affected_convs": (_mean(run.extra.get("affected", [])), "count"),
        "read.chunks_decoded": (_mean(r["chunks"] for r in reads), "count"),
        "read.points_returned": (_mean(r["returned"] for r in reads), "count"),
        "read.useful_frac": (_mean(r["returned"] / r["points"] for r in reads
                                   if r["points"]), "ratio"),
        "vacuum.flatten_s": (busy("vacuum.flatten") / max(n_maint, 1), "s"),
        "vacuum.vacuum_s": (busy("vacuum.vacuum") / max(n_maint, 1), "s"),
        "vacuum.bytes_rewritten": (_mean(run.extra.get("rewritten", [])), "B"),
        "spark.jobs": (sp.jobs_under("op:") / n_ops, "count"),
        "spark.spill_mb": (spill / 1e6 / n_ops, "MB"),
        "trace.overhead_frac": (cost / op_wall if op_wall else 0.0, "ratio"),
        "trace.coverage_frac": (
            sum(s["end"] - s["start"] for s in top_level) / traced_wall, "ratio"),
    }
    m.update(probed)
    run.record["trace_summary"] = {
        "op_spans": len(op_ids), "read_chain_len": chain,
        "aux_s": sum(s["end"] - s["start"] for s in sp.named("aux:")),
        "traced_wall_s": traced_wall, "ops_s": op_wall, "tracer_cost_s": cost,
    }
    return m


def _ancestors(sp, span):
    p = span["parent"]
    while p is not None:
        yield p
        p = sp.by_id[p]["parent"]


def write_trace(out_dir: str, run, wl, metrics: dict) -> str:
    """Write the spans, counters and per-span Spark stages once, at the end."""
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"trace-{wl.name}-s{run.seed}-{run.tracer.run_id}.json")
    with open(path, "w") as f:
        json.dump({"run_id": run.tracer.run_id, "workload": wl.name,
                   "seed": run.seed, "metrics": metrics,
                   "spans": run.tracer.spans, "ops": run.ops,
                   "extra": run.extra, "record": run.record},
                  f, indent=1, default=str)
    run.record["trace_file"] = os.path.relpath(path, os.path.dirname(out_dir))
    return path
