"""The workloads, each a closed loop: one client in one process sends an
operation, waits for it to finish, then sends the next.

- build-idw: the flagship cascade (1m -> 1h -> 1d rollup, fused IDW fill +
  Gorilla encode) over a seeded Pareto-skewed input with its
  mega-conversation.
- refresh-read: late-turn delta refreshes interleaved with range reads on
  a pristine store built in set-up, then a full decode scan and a flatten +
  vacuum. Every refresh lengthens the delta chain each read resolves.

Every workload ends by reading back a seeded sample of conversations
(mega-conversation included) through the public read path and comparing
the points bit for bit with the oracle (check.py); those reads are timed
as range reads too.
"""

from __future__ import annotations

import glob
import os
import shutil
import statistics

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from spinterps_spark import datagen
from spinterps_spark.compress.gorilla import decode_tier_chunks, read_chunks_pruned
from spinterps_spark.plans.generations import generation_plan
from spinterps_spark.plans.pipeline import run_retention_pipeline
from spinterps_spark.plans.refresh import run_refresh_pass
from spinterps_spark.plans.retention import read_tier_chunks
from spinterps_spark.plans.vacuum import run_flatten_pass, run_vacuum_pass
from spinterps_spark.sources.tableformat import tier_tables

import check

TIERS = ("1m", "1h", "1d")
FILL_KNOBS = {"chunk_buckets": 3840, "pad_buckets": 64}
READ_WINDOW_S = 86_400   # one day of 1m points per conversation
CHECK_CONVS = 8          # size-stratified conversations read back per run
CONVS_PER_READ = 3


TURNS_ARROW = pa.schema([
    ("conv_id", pa.string()), ("turn_idx", pa.int32()), ("role", pa.string()),
    ("text", pa.string()), ("tool", pa.string()),
    ("ts", pa.timestamp("us", tz="UTC")),
])


def write_turns(spark, turns: pd.DataFrame, path: str, n_files: int = 8):
    """Write generated turns as the engine's parquet input (the transcript
    schema, UTC timestamps), whole conversations per file, and open it
    with Spark. Written with pyarrow, so no Spark job is spent on it."""
    os.makedirs(path)
    table = pa.Table.from_pandas(
        turns.assign(ts=turns["ts"].dt.tz_localize("UTC")),
        preserve_index=False).cast(TURNS_ARROW)
    conv = turns["conv_id"].to_numpy()
    starts = np.flatnonzero(np.r_[True, conv[1:] != conv[:-1]])
    bounds = [g[0] for g in np.array_split(starts, n_files) if len(g)]
    for i, (lo, hi) in enumerate(zip(bounds, [*bounds[1:], len(turns)])):
        pq.write_table(table.slice(lo, hi - lo),
                       os.path.join(path, f"part-{i:05d}.parquet"))
    return spark.read.parquet(path)


def _cascade(spark, transcripts, n_turns, out_dir, **fill):
    return run_retention_pipeline(
        spark, transcripts, out_dir, tiers=TIERS, n_waves=1,
        fill_knobs=dict(FILL_KNOBS), fuse_fill_and_chunks=True,
        n_turns_hint=n_turns, **fill)


def chunk_stats(spark, store: str) -> tuple[int, int, int]:
    """(chunks, points, bytes) of the current 1m chunk view; bytes count
    the two bitstreams plus 24 B of fixed fields per chunk, as bench.py
    counts them."""
    r = read_tier_chunks(spark, store, "1m").agg(
        F.count(F.lit(1)).alias("c"), F.sum("n").alias("p"),
        F.sum(F.length("ts_d2d") + F.length("vals_xor") + F.lit(24)).alias("b"),
    ).first()
    return int(r.c), int(r.p or 0), int(r.b or 0)


def pruned_counts(spark, store, conv_idx, t_min, t_max) -> tuple[int, int]:
    """(chunks, points) a pruned range read decodes: the current 1m view
    under read_chunks_pruned's documented chunk filter (conversation set,
    chunk_start_ts within one chunk span below t_min up to t_max)."""
    src = read_tier_chunks(spark, store, "1m").where(
        F.col("conv_id").isin(*[datagen.conv_label(i) for i in conv_idx]))
    span = int(src.agg(F.max("chunk_size")).first()[0] or 0) * 60
    lo = (t_min // span) * span - span if span else t_min
    r = src.where(
        (F.col("chunk_start_ts") >= F.timestamp_seconds(F.lit(lo)))
        & (F.col("chunk_start_ts") <= F.timestamp_seconds(F.lit(t_max)))
    ).agg(F.count(F.lit(1)).alias("c"), F.sum("n").alias("p")).first()
    return int(r.c), int(r.p or 0)


def filled_points(spark, chunk_glob: str, rollup_glob: str) -> int:
    """Grid points a fill pass emitted minus the valid buckets it read."""
    pts = spark.read.parquet(chunk_glob).agg(F.sum("n")).first()[0] or 0
    refs = spark.read.parquet(rollup_glob).where("valid").count()
    return int(pts) - int(refs)


def chain_len(spark, store: str) -> int:
    """Deltas a current 1m chunk read resolves (from the snapshot log)."""
    fmt = tier_tables(spark, os.path.join(store, "chunks"))
    _, deltas = generation_plan(
        fmt, "1m", os.path.join(store, "chunks/tier=1m", "wave=*"))
    return len(deltas)


class Workload:
    name = ""
    n_turns_target = 0

    def __init__(self, run):
        self.run = run
        self.spark = run.spark
        self.rng = np.random.default_rng(run.seed)
        self.corpus = check.Corpus(run.seed, self.n_turns_target)
        self.store: str | None = None

    # ------------------------------------------------------------ set-up
    def generate_input(self) -> None:
        """The seeded transcripts (datagen's pandas path, row for row the
        same as its Spark path), written once as the engine's parquet input."""
        turns = datagen.transcripts_pandas(self.run.seed, self.n_turns_target)
        self.transcripts = write_turns(self.spark, turns, self.run.path("input"))
        self.n_turns = len(turns)
        self.run.record["input_turns"] = self.n_turns
        self.run.mark("input")

    # ------------------------------------------------------------ reads
    def read_specs(self, n: int) -> list[tuple[list[int], int, int]]:
        """n seeded range reads: (conversation indices, t_min, t_max).
        Each read anchors a one-day window inside one conversation's span;
        the anchors cycle through the mega-conversation and a sample
        across the size strata."""
        sample = check.sample_convs(self.corpus.sizes, self.rng, CHECK_CONVS)
        anchors = [0, *sample]
        specs = []
        for i in range(n):
            anchor = anchors[i % len(anchors)]
            first, last = self.corpus.span(anchor)
            t0 = int(self.rng.integers(first, max(first, last - READ_WINDOW_S) + 1))
            others = [int(x) for x in self.rng.choice(
                sample, size=CONVS_PER_READ - 1, replace=False) if x != anchor]
            specs.append(([anchor, *others], t0, t0 + READ_WINDOW_S - 1))
        return specs

    def range_read(self, conv_idx: list[int], t_min: int, t_max: int):
        tr = self.run.tracer
        with tr.span("read.resolve"):
            src = read_tier_chunks(self.spark, self.store, "1m")
        with tr.span("read.prune"):
            df = read_chunks_pruned(
                self.spark, src, "1m",
                conv_ids=[datagen.conv_label(i) for i in conv_idx],
                t_min=t_min, t_max=t_max)
        with tr.span("read.decode"):
            return df.toPandas()

    def checked_read(self, conv_idx, t_min, t_max) -> None:
        got = self.run.op("read", self.range_read, conv_idx, t_min, t_max,
                          check=lambda got: check.check_read(
                              got, self.corpus, conv_idx, t_min, t_max))
        if got is not None and self.run.tracer.enabled:
            with self.run.tracer.span("aux:read_counts"):
                chunks, points = pruned_counts(self.spark, self.store, conv_idx,
                                               t_min, t_max)
            self.run.add("read", {"chunks": chunks, "points": points,
                                  "returned": len(got)})

    def scan(self) -> None:
        self.run.op("scan", lambda: decode_tier_chunks(
            read_tier_chunks(self.spark, self.store, "1m")
        ).write.format("noop").mode("overwrite").save())

    def finish_store(self, n_reads: int) -> None:
        """Read-back checks, a full decode scan and the store's exact counts."""
        for spec in self.read_specs(n_reads):
            self.checked_read(*spec)
        self.scan()
        with self.run.tracer.span("aux:store_stats"):
            chunks, points, nbytes = chunk_stats(self.spark, self.store)
        self.run.record["store_1m"] = {"chunks": chunks, "points": points,
                                       "bytes": nbytes}


class BuildIdw(Workload):
    name = "build-idw"
    n_turns_target = 10_000
    warmup_turns_target = 500
    round_s = 8.0         # nominal wall of one cascade and its reads on a 4-core VM
    reads_per_build = 2

    def setup(self) -> None:
        """Input, then the untimed warm-up: one cascade over a small input
        of the same shape and one range read of its store. The session's
        first cascade pays its one-time costs (class loading, code
        generation, Python worker start-up) whatever the input size."""
        self.builds = max(2, int(self.run.seconds // self.round_s))
        self.generate_input()
        small = datagen.transcripts_pandas(self.run.seed, self.warmup_turns_target)
        self.store = self.run.path("warmup")
        _cascade(self.spark, write_turns(self.spark, small, self.run.path("warmup-input")),
                 len(small), self.store, fill_method="IDW")
        first, last = check.Corpus(self.run.seed, self.warmup_turns_target).span(0)
        self.range_read([0], first, min(last, first + READ_WINDOW_S - 1))
        shutil.rmtree(self.store)
        self.store = None
        self.run.mark("warmup")

    def build(self, out_dir: str) -> None:
        _cascade(self.spark, self.transcripts, self.n_turns, out_dir,
                 fill_method="IDW")

    def timed(self) -> None:
        """`builds` x (a cascade into a fresh store, then checked range
        reads of it), then the scan of the last store."""
        for n in range(self.builds):
            if self.store:
                with self.run.tracer.span("aux:cleanup"):
                    shutil.rmtree(self.store)
            self.store = self.run.path(f"store{n}")
            self.run.op("build", self.build, self.store,
                        primary=True, turns=self.n_turns)
            if self.run.tracer.enabled:
                with self.run.tracer.span("aux:filled"):
                    self.run.add("filled", filled_points(
                        self.spark,
                        os.path.join(self.store, "chunks/tier=1m/wave=*"),
                        os.path.join(self.store, "rollup/tier=1m/wave=*")))
            for spec in self.read_specs(self.reads_per_build):
                self.checked_read(*spec)
        self.finish_store(0)


class RefreshRead(Workload):
    name = "refresh-read"
    n_turns_target = 5_000
    round_s = 10.0        # nominal wall of one round on a 4-core VM
    reads_per_round = 1
    delta_frac = 0.005
    delta_convs = 6

    def setup(self) -> None:
        """Input, the late-turn deltas and the pristine store; building the
        store is also the run's warm-up pass. A run makes a fixed number of
        rounds, sized from --seconds, so every run of a given length resolves
        the same delta chains."""
        self.rounds = max(2, int(self.run.seconds // self.round_s))
        self.generate_input()
        self.deltas = [self.make_delta(r) for r in range(self.rounds)]
        self.store = self.run.path("store0")
        _cascade(self.spark, self.transcripts, self.n_turns, self.store,
                 fill_method="IDW")
        self.run.mark("store")

    def make_delta(self, r: int):
        """~delta_frac of the input as new turns for `delta_convs`
        size-stratified conversations (never the mega-conversation): turns
        generated for round r's seed, moved so they start at a seeded
        point inside the conversation's existing span, numbered after its
        existing turns. Written once as parquet, like the base input."""
        seed_r = self.run.seed * 1000 + r + 1
        rng = np.random.default_rng(seed_r)
        convs = check.sample_convs(self.corpus.sizes, rng, self.delta_convs)
        per_conv = max(int(self.n_turns * self.delta_frac) // len(convs), 1)
        frames, anchors = [], []
        for idx in convs:
            d = datagen.conv_turns(seed_r, idx, per_conv)
            base = datagen.conv_turns(self.run.seed, idx, int(self.corpus.sizes[idx]))
            lo, hi = base["ts"].min().value // 10**9, base["ts"].max().value // 10**9
            start = int(rng.integers(lo, hi + 1))
            d["ts"] = d["ts"] + pd.Timedelta(
                seconds=start - d["ts"].min().value // 10**9)
            d["turn_idx"] = d["turn_idx"] + int(self.corpus.sizes[idx]) + r * per_conv
            frames.append(d)
            anchors.append((idx, max(start - int(rng.integers(0, READ_WINDOW_S // 2)), lo)))
        turns = pd.concat(frames, ignore_index=True)
        delta = write_turns(self.spark, turns, self.run.path(f"delta{r}"))
        return delta, anchors, turns

    def refresh(self, delta):
        return run_refresh_pass(
            self.spark, delta, self.store, tiers=TIERS, fill_method="IDW",
            fill_knobs=dict(FILL_KNOBS), n_waves=1)

    def maintain(self):
        with self.run.tracer.span("vacuum.flatten"):
            for table in ("rollup", "chunks"):
                run_flatten_pass(self.spark, self.store, "1m", table=table,
                                 n_waves=1)
        with self.run.tracer.span("vacuum.vacuum"):
            return run_vacuum_pass(self.spark, self.store, keep_last=1)

    def timed(self) -> None:
        """`rounds` x (refresh, checked reads of the refreshed
        conversations), then a checked read across the size strata, the
        scan and maintenance of the refreshed store."""
        rounds = []
        for r in range(self.rounds):
            delta, anchors, turns = self.deltas[r]
            for idx, frame in turns.groupby(turns["conv_id"].map(
                    lambda c: int(c[1:])), sort=False):
                self.corpus.add_delta(idx, frame)
            out = self.run.op("refresh", self.refresh, delta,
                              primary=True, turns=len(turns))
            refresh_s = self.run.ops[-1]["wall_s"]
            if out is not None and self.run.tracer.enabled:
                self.run.add("affected", out["n_affected_convs"])
                gen = f"tier=1m/gen={out['run_id']}/wave=*"
                with self.run.tracer.span("aux:filled"):
                    self.run.add("filled", filled_points(
                        self.spark,
                        os.path.join(self.store, "chunks_refresh", gen),
                        os.path.join(self.store, "rollup_refresh", gen)))
            walls = []
            for q in range(self.reads_per_round):
                idx, t_min = anchors[q % len(anchors)]
                others = [i for i, _ in anchors if i != idx][:CONVS_PER_READ - 1]
                self.checked_read([idx, *others], t_min,
                                  t_min + READ_WINDOW_S - 1)
                walls.append(self.run.ops[-1]["wall_s"])
            with self.run.tracer.span("aux:chain_len"):
                chain = chain_len(self.spark, self.store)
            rounds.append({"round": r + 1, "chain_len": chain,
                           "refresh_s": refresh_s,
                           "read_p50_s": statistics.median(walls)})
        self.finish_store(n_reads=1)
        self.run.op("maintain", self.maintain)
        self.run.add("rewritten", _flat_bytes(self.store))
        self.run.record["rounds"] = rounds


def _flat_bytes(store: str) -> int:
    total = 0
    for d in glob.glob(os.path.join(store, "*_flat")):
        for root, _dirs, files in os.walk(d):
            total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


WORKLOADS = {w.name: w for w in (BuildIdw, RefreshRead)}
