"""The workloads. Each runs a closed loop: one client (this driver)
issues one operation at a time and the next only after the previous one
returns, until the run's time is spent. Every operation goes through
`OpGuard`, so a failure is counted and the loop goes on.

A workload has four kinds of operation, timed separately:

  build   build the workload's sketches from its whole input
  sql     the same grouped quantile question through the pure-Catalyst
          DDSketch plan (`functions/ddsql.py`), which bypasses Python
  update  bring the published sketches up to date with new data
  query   answer a question from the published sketch blobs

See README.md for what each one is on each workload.
"""

from __future__ import annotations

import gc
import os
import shutil
import statistics
import time

import numpy as np
from pyspark.sql import functions as F

from p2pddsketch_spark.functions.ddsql import ddsketch_quantile_plan
from p2pddsketch_spark.operators import rollup as R
from p2pddsketch_spark.operators.harness import (EMPTY_MARKER, SketchSpec,
                                                 array_extractor,
                                                 build_partials_from_files,
                                                 build_sketches_from_files,
                                                 collect_sketches,
                                                 merge_partials,
                                                 parquet_file_list,
                                                 scalar_extractor,
                                                 scalar_int_extractor,
                                                 sketch_from_bytes,
                                                 vpair_extractor)
from p2pddsketch_spark.sketches.bloom import BloomFilter
from p2pddsketch_spark.sketches.cms import CountMinSketch
from p2pddsketch_spark.sketches.ddsketch import DDSketch
from p2pddsketch_spark.sketches.hll import HyperLogLog
from p2pddsketch_spark.sketches.kll import KLLSketch
from p2pddsketch_spark.sketches.tdigest import TDigest
from p2pddsketch_spark.sketches.wdds import WindowedDDSketch

from perfbench import gates, inputs
from perfbench.kernels import time_kernels
from perfbench.session import cpu_count


def p50(xs: list[float]) -> float:
    return statistics.median(xs)


def p90(xs: list[float]) -> float:
    return statistics.quantiles(xs, n=10, method="inclusive")[-1] if len(xs) > 1 else xs[0]


def dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
    return total


PROBE_IDS = np.arange(1, 65, dtype=np.int64)


def answer(sketch):
    """The question a dashboard asks each kind of sketch."""
    if isinstance(sketch, HyperLogLog):
        return sketch.cardinality()
    if isinstance(sketch, CountMinSketch):
        return sketch.estimate(PROBE_IDS)
    if isinstance(sketch, BloomFilter):
        return sketch.contains(PROBE_IDS)
    return sketch.quantiles(gates.QS)


def blobs_of(sketches: dict) -> dict:
    """{(group, name): sketch} from `collect_sketches` → {key: bytes}."""
    return {k: s.to_bytes() for k, s in sketches.items()}


class Workload:
    """Shared loop, build, query and bookkeeping of one run."""

    group_col: str
    hll_p: int
    alpha: float
    value_col: str
    # minimum number of main operations, so that the blob-identity gate
    # always has two builds to compare
    min_main_ops = 2

    def __init__(self, spark, guard, tracer, work_dir: str, seed: int,
                 seconds: float, traced: bool):
        self.spark, self.guard, self.tracer = spark, guard, tracer
        self.work_dir, self.seed = work_dir, seed
        self.seconds, self.traced = seconds, traced
        self.n = cpu_count()
        self.failures: list[str] = []
        self.times: dict[str, list[float]] = {k: [] for k in
                                              ("build", "sql", "update", "query")}
        self.untraced: dict[str, list[float]] = {}
        self.lineage: list = []
        self.layer: dict[str, float] = {}
        self.generate_s = 0.0

    # ---------------------------------------------------------- operations

    def op(self, kind: str, fn, uses_spark: bool = True):
        """Run one guarded operation inside a `bench.<kind>` span; record
        its time when it succeeded. Returns the result, or None."""
        with self.tracer.span(f"bench.{kind}", op_id=len(self.guard.ops)):
            op = self.guard.run(kind, fn, uses_spark)
        if op.ok:
            # a traced run's untraced cycles are only the overhead baseline
            bucket = self.times if self.tracer.enabled or not self.traced \
                else self.untraced
            bucket.setdefault(kind, []).append(op.seconds)
        return op.result if op.ok else None

    def harness_build(self, path: str, specs: list[SketchSpec]) -> dict | None:
        """One build through the harness, collected to {key: blob}.

        Untraced, it is the public one-call pipeline. Traced, it is split
        into stage 1 (checkpointed), stages 2-3 (checkpointed) and the
        collect, each in its own span, and the stage-1 lineage is kept."""
        g = (self.group_col,)
        if not self.tracer.enabled:
            out = self.op("build", lambda: collect_sketches(
                build_sketches_from_files(self.spark, path, specs, g,
                                          salt_buckets=self.n), g))
            return None if out is None else blobs_of(out)
        holder = {}

        def split():
            with self.tracer.span("harness.stage1"):
                holder["partials"] = build_partials_from_files(
                    self.spark, parquet_file_list(path), specs, g,
                    salt_buckets=self.n).localCheckpoint(eager=True)
            with self.tracer.span("harness.merge"):
                merged = merge_partials(holder["partials"], g).localCheckpoint(eager=True)
            with self.tracer.span("harness.collect"):
                return collect_sketches(merged, g)
        out = self.op("build", split)
        if out is None:
            return None
        self.lineage = holder["partials"].select(
            "partition_id", "build_secs", "rows_seen", "sketch_name",
            F.length("sketch").alias("nbytes")).collect()
        return blobs_of(out)

    def sql(self, path: str) -> dict | None:
        """{(group, q): estimate} from the Catalyst DDSketch plan."""
        def run():
            with self.tracer.span("ddsql.quantile_plan"):
                return ddsketch_quantile_plan(
                    self.spark.read.parquet(path), self.value_col,
                    list(gates.QS), self.alpha, (self.group_col,)).collect()
        rows = self.op("sql", run)
        if rows is None:
            return None
        return {(r[self.group_col], r["q"]): r["estimate"] for r in rows}

    def blob_queries(self, blobs: dict, count: int) -> None:
        """`count` queries answered in the driver from the built blobs, as a
        dashboard over the build's output would: decode every blob and ask
        each sketch its question. Every query does the same work, so the
        median does not jump between groups of different cost."""
        # the build's garbage is collected here, not during a timed query
        gc.collect()
        for _ in range(count):
            def ask():
                with self.tracer.span("sketches.query"):
                    return [answer(sketch_from_bytes(b)) for b in blobs.values()]
            self.op("query", ask, uses_spark=False)

    def warm(self, path: str, specs: list[SketchSpec]) -> None:
        """Set-up's last step: one build and one Catalyst plan over the first
        1024 rows of the input. The first run of each plan pays Python
        worker start-up and JIT compilation, which no measured operation
        should; a small input pays them without a full build's cost."""
        import pyarrow.parquet as pq
        warm_dir = os.path.join(self.work_dir, "warm")
        os.makedirs(warm_dir)
        first = pq.ParquetFile(parquet_file_list(path)[0]).read_row_group(0)
        pq.write_table(first.slice(0, 1024), os.path.join(warm_dir, "part-0.parquet"))
        g = (self.group_col,)
        collect_sketches(build_sketches_from_files(self.spark, warm_dir, specs, g,
                                                   salt_buckets=self.n), g)
        ddsketch_quantile_plan(self.spark.read.parquet(warm_dir), self.value_col,
                               list(gates.QS), self.alpha, g).collect()

    # ---------------------------------------------------------------- loop

    def loop(self, cycle) -> None:
        """Call `cycle()` until the run's seconds are spent, and at least
        `min_main_ops` times. A traced run alternates cycles with tracing
        off and on, and at least two of each; the off cycles give the
        baseline of the tracing overhead."""
        t0 = time.perf_counter()
        least = 4 if self.traced else self.min_main_ops
        done = 0
        while time.perf_counter() - t0 < self.seconds or done < least:
            self.tracer.enabled = not self.traced or done % 2 == 1
            if not cycle():
                break
            done += 1
        self.tracer.enabled = self.traced

    # ------------------------------------------------------------- metrics

    def harness_metrics(self, input_rows: int, final_sketches: int) -> dict:
        rows = [r for r in self.lineage if r["sketch_name"] != EMPTY_MARKER]
        task_s = {r["partition_id"]: r["build_secs"] for r in self.lineage}
        seen: dict[str, int] = {}
        for r in rows:
            seen[r["sketch_name"]] = seen.get(r["sketch_name"], 0) + r["rows_seen"]
        return {
            "harness.stage1_s": p50(self.tracer.durations("harness.stage1")),
            "harness.stage1_tasks": float(len(task_s)),
            "harness.stage1_task_s_p50": p50(list(task_s.values())),
            "harness.stage1_task_s_max": max(task_s.values()),
            "harness.partials": float(len(rows)),
            "harness.partial_bytes": float(sum(r["nbytes"] for r in rows)),
            "harness.merge_s": p50(self.tracer.durations("harness.merge")),
            "harness.final_sketches": float(final_sketches),
            "harness.rows_seen_ratio": statistics.fmean(seen.values()) / input_rows,
        }

    def common_e2e(self, state_bytes: float, quantile_err: float,
                   distinct_err: float) -> dict:
        q_ms = [t * 1e3 for t in self.times["query"]]
        return {
            "build_s_p50": p50(self.times["build"]),
            "sql_quantile_s_p50": p50(self.times["sql"]),
            "query_ms_p50": p50(q_ms),
            "query_ms_p90": p90(q_ms),
            "quantile_rel_err_max": quantile_err,
            "distinct_rel_err_max": distinct_err,
            "state_bytes": float(state_bytes),
        }

    def traced_metrics(self, kernel_values: np.ndarray, kernel_keys: np.ndarray,
                       kernel_factories: dict) -> None:
        with self.tracer.span("bench.kernels"):
            self.layer.update(time_kernels(self.tracer, kernel_factories,
                                           kernel_values, kernel_keys))
        traced, untraced = (p50(t[self.main_kind]) for t in (self.times, self.untraced))
        self.layer["trace.overhead_s"] = traced - untraced
        self.layer["trace.overhead_pct"] = 100.0 * (traced / untraced - 1.0)
        self.layer["sources.generate_s"] = self.generate_s

    def summary(self) -> dict[str, int]:
        return {k: len(v) for k, v in self.times.items()}


class TableBuild(Workload):
    """A workload whose cycle is one harness build of a whole table, the
    driver-side queries of its blobs, and one Catalyst plan."""

    main_kind = "build"
    path: str
    queries_per_build: int

    def measure(self) -> None:
        specs = self.specs()
        self.builds: list[dict] = []
        self.sqls: list[dict] = []

        def cycle() -> bool:
            # half the queries after the build and half after the plan, so
            # that they sample more of the run than one burst would
            half = self.queries_per_build // 2
            blobs = self.harness_build(self.path, specs)
            if blobs is not None:
                self.builds.append(blobs)
                self.blob_queries(blobs, half)
            est = self.sql(self.path)
            if est is not None:
                self.sqls.append(est)
            if blobs is not None:
                self.blob_queries(blobs, self.queries_per_build - half)
            return True
        self.loop(cycle)

    def final_build(self) -> dict | None:
        """The first build's blobs, after gating every later build on being
        byte-identical to it."""
        if not self.builds:
            self.failures.append(f"{self.name}: no build succeeded")
            return None
        for i, other in enumerate(self.builds[1:], 1):
            self.failures += gates.identical_blobs(self.builds[0], other,
                                                   f"build {i} vs build 0")
        return self.builds[0]

    def table_e2e(self, final: dict, quantile_err: float, distinct_err: float,
                  rows: int, items: int) -> dict:
        build = p50(self.times["build"])
        e2e = self.common_e2e(sum(len(b) for b in final.values()),
                              quantile_err, distinct_err)
        # a from-scratch pipeline is brought up to date by rebuilding it
        e2e["update_s_p50"] = build
        e2e["tokens_per_s"] = items / build
        e2e["rows_per_s"] = rows / build
        if self.traced:
            self.layer.update(self.harness_metrics(rows, len(final)))
        return e2e


# ============================================================ corpus_build

class CorpusBuild(TableBuild):
    """Six sketches over the tokenized `sequences` table, grouped by the
    80%-skewed `source` column."""

    name = "corpus_build"
    group_col = "source"
    alpha, hll_p, value_col = 0.001, 14, "n_tok"
    rows = 100_000
    queries_per_build = 50

    def specs(self) -> list[SketchSpec]:
        return [
            SketchSpec("dds_ntok", lambda: DDSketch(alpha=0.001, bin_limit=1 << 22),
                       scalar_extractor("n_tok")),
            SketchSpec("kll_ntok", lambda: KLLSketch(k=256), scalar_extractor("n_tok")),
            SketchSpec("tdigest_ntok", lambda: TDigest(delta=200), scalar_extractor("n_tok")),
            SketchSpec("hll_tokens", lambda: HyperLogLog(p=14), array_extractor("tokens")),
            SketchSpec("cms_tokens", lambda: CountMinSketch(depth=4, width=1 << 16),
                       array_extractor("tokens")),
            SketchSpec("bloom_tokens", lambda: BloomFilter(m_bits=1 << 21, k=5),
                       array_extractor("tokens")),
        ]

    def setup(self) -> None:
        self.path = os.path.join(self.work_dir, "sequences")
        t0 = time.perf_counter()
        with self.tracer.span("sources.generate"):
            inputs.write_corpus(self.spark, self.path, self.rows, self.seed, self.n)
        self.generate_s = time.perf_counter() - t0
        self.warm(self.path, self.specs())

    def finish(self) -> dict:
        exact = inputs.corpus_exact(self.path)
        groups = exact["groups"]
        final = self.final_build()
        if final is None:
            return {}
        sk = {k: sketch_from_bytes(b) for k, b in final.items()}
        dds_est = {(g, q): v for g in groups
                   for q, v in zip(gates.QS, sk[(g, "dds_ntok")].quantiles(gates.QS))}
        f, q_err = gates.quantiles_within_alpha(
            dds_est, {g: d["values"] for g, d in groups.items()}, self.alpha, "DDSketch n_tok")
        self.failures += f
        for est in self.sqls:
            self.failures += gates.quantiles_within_alpha(
                est, {g: d["values"] for g, d in groups.items()}, self.alpha,
                "Catalyst plan n_tok")[0]
        self.failures += gates.hll_within_3se(
            {g: sk[(g, "hll_tokens")].cardinality() for g in groups},
            {g: int(np.count_nonzero(d["token_counts"])) for g, d in groups.items()},
            self.hll_p, "HLL tokens")[0]
        # the reported error is that of the corpus-wide HLL, the merge of the
        # group sketches: its token set is the whole vocabulary on every
        # seed, while the small groups' sets, and so their errors, change
        union = HyperLogLog(p=self.hll_p)
        for g in groups:
            union.merge(sk[(g, "hll_tokens")])
        f, d_err = gates.hll_within_3se(
            {"all": union.cardinality()},
            {"all": int(np.count_nonzero(sum(d["token_counts"] for d in groups.values())))},
            self.hll_p, "HLL tokens, all sources")
        self.failures += f
        rng = np.random.default_rng((self.seed, 9))
        for g, d in groups.items():
            ids = rng.integers(0, d["token_counts"].size, 512)
            self.failures += gates.cms_never_under(sk[(g, "cms_tokens")], ids,
                                                   d["token_counts"], f"{g}")
            self.failures += gates.bloom_no_false_negatives(
                sk[(g, "bloom_tokens")], np.flatnonzero(d["token_counts"]), f"{g}")
        return self.table_e2e(final, q_err, d_err, exact["rows"], exact["tokens"])

    def kernel_inputs(self):
        import pyarrow.parquet as pq
        b = next(pq.ParquetFile(inputs.parquet_files(self.path)[0]).iter_batches(
            batch_size=2048, columns=["n_tok", "tokens"]))
        values = np.resize(b.column("n_tok").to_numpy().astype(np.float64), 1 << 18)
        keys = b.column("tokens").flatten().to_numpy().astype(np.int64)[:1 << 18]
        factories = {s.name.split("_")[0]: s.factory for s in self.specs()}
        return values, keys, factories


# ============================================================= many_groups

class ManyGroups(TableBuild):
    """DDSketch, KLL and HLL over a scalar table with many groups."""

    name = "many_groups"
    group_col = "grp"
    alpha, hll_p, value_col = 0.01, 12, "value"
    rows, groups, users, files = 400_000, 200, 256, 8
    queries_per_build = 10

    def specs(self) -> list[SketchSpec]:
        return [
            SketchSpec("dds", lambda: DDSketch(alpha=0.01, bin_limit=2048),
                       scalar_extractor("value")),
            SketchSpec("kll", lambda: KLLSketch(k=200), scalar_extractor("value")),
            SketchSpec("hll", lambda: HyperLogLog(p=12), scalar_int_extractor("user_id")),
        ]

    def setup(self) -> None:
        self.path = os.path.join(self.work_dir, "scalars")
        t0 = time.perf_counter()
        with self.tracer.span("sources.generate"):
            self.cols = inputs.scalar_table(self.seed, self.rows, self.groups, self.users)
            inputs.write_columns(self.path, self.cols, self.files)
        self.generate_s = time.perf_counter() - t0
        self.warm(self.path, self.specs())

    def finish(self) -> dict:
        exact = inputs.grouped_exact(self.cols["grp"], self.cols["value"],
                                     self.cols["user_id"])
        final = self.final_build()
        if final is None:
            return {}
        values = {g: d["values"] for g, d in exact.items()}
        est = {}
        for g in exact:
            qv = sketch_from_bytes(final[(g, "dds")]).quantiles(gates.QS)
            est.update({(g, q): v for q, v in zip(gates.QS, qv)})
        f, q_err = gates.quantiles_within_alpha(est, values, self.alpha, "DDSketch value")
        self.failures += f
        for s in self.sqls:
            self.failures += gates.quantiles_within_alpha(s, values, self.alpha,
                                                          "Catalyst plan value")[0]
        f, d_err = gates.hll_within_3se(
            {g: sketch_from_bytes(final[(g, "hll")]).cardinality() for g in exact},
            {g: d["distinct"] for g, d in exact.items()}, self.hll_p, "HLL user_id")
        self.failures += f
        # scalar tables: one sketch input item per row per column read
        return self.table_e2e(final, q_err, d_err, self.rows, 2 * self.rows)

    def kernel_inputs(self):
        n = 1 << 18
        return (self.cols["value"][:n], self.cols["user_id"][:n],
                {s.name: s.factory for s in self.specs()})


# =============================================================== warehouse

class Warehouse(Workload):
    """A versioned sketch warehouse: small file drops appended and folded
    in by `rollup_update`, with stored-state queries between updates."""

    name = "warehouse"
    main_kind = "update"
    group_col = "event_type"
    alpha, hll_p, value_col = 0.01, 12, "value"
    seed_files, seed_rows, drop_rows, max_drops = 4, 20_000, 10_000, 12
    users = 128
    # every cycle has one update, one build and one Catalyst plan; three
    # cycles give each of them a median of three
    min_main_ops = 3

    def specs(self) -> list[SketchSpec]:
        return [
            SketchSpec("dds", lambda: DDSketch(alpha=0.01, bin_limit=2048),
                       scalar_extractor("value")),
            SketchSpec("hll", lambda: HyperLogLog(p=12), scalar_int_extractor("user_id")),
            SketchSpec("wdds", lambda: WindowedDDSketch(
                alpha=0.01, bucket_width=inputs.DAY_US, max_buckets=64),
                vpair_extractor("value", "ts")),
        ]

    def drop_path(self, i: int) -> str:
        return os.path.join(self.staging, f"drop-{i:05d}.parquet")

    def setup(self) -> None:
        self.input = os.path.join(self.work_dir, "events")
        self.staging = os.path.join(self.work_dir, "staging")
        self.state = os.path.join(self.work_dir, "state")
        os.makedirs(self.staging)
        t0 = time.perf_counter()
        with self.tracer.span("sources.generate"):
            self.parts = [inputs.events(self.seed, 0, self.seed_rows, 0.0, 4.0, self.users)]
            inputs.write_columns(self.input, self.parts[0], self.seed_files,
                                 inputs.EVENTS_SCHEMA)
            self.drops = []
            for i in range(self.max_drops):
                lo = 4.0 + i / 4
                cols = inputs.events(self.seed, i + 1, self.drop_rows, lo, lo + 0.25,
                                     self.users)
                inputs.write_columns(self.staging, cols, 1, inputs.EVENTS_SCHEMA)
                os.replace(os.path.join(self.staging, "part-00000.parquet"),
                           self.drop_path(i))
                self.drops.append(cols)
        self.generate_s = time.perf_counter() - t0
        # the state every cycle advances, then one incremental update with
        # the first drop and one Catalyst plan, both part of set-up: the
        # first run of each plan pays JIT compilation. The queries' first
        # runs cost 0.2-0.4 s more than later ones, and only their first
        # three of eighteen samples pay it, so they are not warmed.
        with self.tracer.span("rollup.update"):
            R.rollup_update(self.spark, self.input, self.state, self.specs(),
                            (self.group_col,), salt_buckets=self.n)
            self.append(0)
            R.rollup_update(self.spark, self.input, self.state, self.specs(),
                            (self.group_col,), salt_buckets=self.n)
        self.next_drop = 1
        ddsketch_quantile_plan(self.spark.read.parquet(self.input), self.value_col,
                               list(gates.QS), self.alpha, (self.group_col,)).collect()

    def queries(self) -> list[tuple[str, object]]:
        s, st, qs = self.spark, self.state, list(gates.QS)
        return [
            ("quantiles", lambda: R.rollup_quantiles(s, st, "dds", qs).collect()),
            ("cardinality", lambda: R.rollup_cardinality(s, st, "hll").collect()),
            ("window_quantiles", lambda: R.rollup_window_quantiles(
                s, st, qs, [inputs.DAY_US]).collect()),
        ]

    def append(self, drop: int) -> int:
        """Move drop `drop` into the input; returns its size in bytes."""
        src = self.drop_path(drop)
        size = os.path.getsize(src)
        os.replace(src, os.path.join(self.input, os.path.basename(src)))
        return size

    def advance(self, drop: int) -> None:
        """Append drop `drop`, fold it in with `rollup_update`, then prune."""
        drop_bytes = self.append(drop)
        self.next_drop = drop + 1
        before = dir_bytes(self.state)

        def update():
            with self.tracer.span("rollup.update"):
                return R.rollup_update(self.spark, self.input, self.state,
                                       self.specs(), (self.group_col,),
                                       salt_buckets=self.n)
        if self.op("update", update) is not None:
            self.applied += 1
        if self.tracer.enabled:
            self.written.append((dir_bytes(self.state) - before) / drop_bytes)
            with self.tracer.span("rollup.versions"):
                R.rollup_versions(self.spark, self.state)
            with self.tracer.span("rollup.state_read"):
                R.rollup_state(self.spark, self.state).select("sketch").collect()
        with self.tracer.span("rollup.prune"):
            self.guard.run("prune", lambda: R.rollup_prune(self.spark, self.state, keep=2))

    def query_round(self) -> None:
        """One run of each of the three stored-state queries."""
        for kind, fn in self.queries():
            def ask(kind=kind, fn=fn):
                with self.tracer.span(f"rollup.query.{kind}"):
                    return fn()
            rows = self.op("query", ask)
            if rows is not None:
                self.last[kind] = rows

    def oneshot(self, timed: bool = True) -> dict | None:
        """A from-scratch build over every appended file: `rollup_update`
        into a fresh state, or in a traced run the split harness build.
        Untimed, it runs outside the build samples, as a gate only."""
        if self.traced and timed:
            return self.harness_build(self.input, self.specs())
        fresh = os.path.join(self.work_dir, f"oneshot-{len(self.guard.ops)}")

        def build():
            R.rollup_update(self.spark, self.input, fresh, self.specs(),
                            (self.group_col,), salt_buckets=self.n)
            return self.state_blobs(fresh)
        if timed:
            return self.op("build", build)
        op = self.guard.run("gate", build)
        return op.result if op.ok else None

    def check_state(self, blobs: dict | None) -> None:
        """Gate: the state is byte-identical to a one-shot build over the
        same files."""
        if blobs is None:
            return
        self.final = self.state_blobs(self.state)
        self.failures += gates.identical_blobs(
            self.final, blobs,
            f"state after {self.applied} updates vs one-shot build")
        self.verified = self.next_drop

    def measure(self) -> None:
        """Cycles of: the next drop's update, a query round, a Catalyst
        plan, a one-shot build, a query round and a second Catalyst plan.
        Every kind of operation is spread over the whole run, so a slow
        stretch of the machine weighs on each of them alike. A plan takes
        0.8-1.8 s and its runs spread more than the other operations', so
        it is sampled twice per cycle."""
        self.applied, self.written, self.last = 0, [], {}
        self.verified, self.sqls, self.final = 0, [], {}

        def plan() -> None:
            est = self.sql(self.input)
            if est is not None:
                self.sqls.append((self.next_drop, est))

        def cycle() -> bool:
            if self.next_drop == self.max_drops:
                return False
            self.advance(self.next_drop)
            self.query_round()
            plan()
            self.check_state(self.oneshot())
            if self.tracer.enabled:
                self.lineage_rows = self.seed_rows + self.next_drop * self.drop_rows
            self.query_round()
            plan()
            return True
        self.loop(cycle)

    def state_blobs(self, state: str) -> dict:
        return {(r[self.group_col], r["sketch_name"]): bytes(r["sketch"])
                for r in R.rollup_state(self.spark, state).collect()}

    def exact(self, appended: int) -> dict:
        """Exact per-type answers over the seed and the first `appended` drops."""
        parts = self.parts + self.drops[:appended]
        cols = {k: np.concatenate([p[k] for p in parts])
                for k in ("event_type", "value", "user_id")}
        return inputs.grouped_exact(cols["event_type"], cols["value"], cols["user_id"])

    def finish(self) -> dict:
        if self.verified != self.next_drop:
            # the last update was not followed by a successful build
            blobs = self.oneshot(timed=False)
            if blobs is None:
                self.failures.append("one-shot gate build failed")
            self.check_state(blobs)
        exact = self.exact(self.next_drop)
        values = {g: d["values"] for g, d in exact.items()}
        est = {(r[self.group_col], r["q"]): r["estimate"]
               for r in self.last.get("quantiles", ())}
        f, q_err = gates.quantiles_within_alpha(est, values, self.alpha, "rollup_quantiles")
        self.failures += f
        if not self.sqls:
            self.failures.append("no Catalyst plan succeeded")
        for appended, s in self.sqls:
            self.failures += gates.quantiles_within_alpha(
                s, {g: d["values"] for g, d in self.exact(appended).items()},
                self.alpha, f"Catalyst plan value, {appended} drops")[0]
        f, d_err = gates.hll_within_3se(
            {r[self.group_col]: r["estimate"] for r in self.last.get("cardinality", ())},
            {g: d["distinct"] for g, d in exact.items()}, self.hll_p, "rollup_cardinality")
        self.failures += f
        if not self.last.get("window_quantiles"):
            self.failures.append("rollup_window_quantiles returned no rows")
        update = p50(self.times["update"])
        e2e = self.common_e2e(dir_bytes(self.state), q_err, d_err)
        e2e["update_s_p50"] = update
        # scalar tables: one sketch input item per row per column read
        e2e["tokens_per_s"] = 3 * self.drop_rows / update
        e2e["rows_per_s"] = self.drop_rows / update
        if self.traced and self.lineage:
            self.layer.update(self.harness_metrics(self.lineage_rows, len(self.final)))
            self.layer.update(self.rollup_metrics())
        return e2e

    def rollup_metrics(self) -> dict:
        d = self.tracer.durations
        return {
            "rollup.versions_s": p50(d("rollup.versions")),
            "rollup.state_read_s": p50(d("rollup.state_read")),
            "rollup.query.quantiles_ms": 1e3 * p50(d("rollup.query.quantiles")),
            "rollup.query.cardinality_ms": 1e3 * p50(d("rollup.query.cardinality")),
            "rollup.query.window_quantiles_ms": 1e3 * p50(d("rollup.query.window_quantiles")),
            "rollup.bytes_written_per_input_byte": p50(self.written),
            "rollup.state_dir_bytes": float(dir_bytes(self.state)),
            "rollup.prune_s": p50(d("rollup.prune")),
        }

    def kernel_inputs(self):
        n = 1 << 18
        values = np.resize(self.parts[0]["value"], n)
        keys = np.resize(self.parts[0]["user_id"], n)
        factories = {s.name: s.factory for s in self.specs() if s.name != "wdds"}
        return values, keys, factories


class RollupProbe(Warehouse):
    """The warehouse layer at a small fixed size, for the `rollup.*`
    metrics of a traced run of a workload that does not use it."""

    seed_files, seed_rows, drop_rows, max_drops = 2, 40_000, 10_000, 3

    def probe(self) -> dict:
        self.setup()
        self.applied, self.written, self.last = 0, [], {}
        for i in range(self.next_drop, self.max_drops):
            self.advance(i)
            self.query_round()
        return self.rollup_metrics()


WORKLOADS = {w.name: w for w in (CorpusBuild, ManyGroups, Warehouse)}


def run_rollup_probe(parent: Workload) -> dict:
    """rollup.* metrics from a small warehouse beside `parent`'s run. Its
    operations count as attempted, but not in the times or the gates."""
    work = os.path.join(parent.work_dir, "rollup-probe")
    probe = RollupProbe(parent.spark, parent.guard, parent.tracer, work,
                        parent.seed, 0.0, True)
    try:
        return probe.probe()
    finally:
        shutil.rmtree(work, ignore_errors=True)
