"""The workloads. Each is a closed loop with one client: the next op starts
when the previous one has finished.

- ``incr_chain``: continuous mode. Each cycle lands small Parquet files and
  syncs them Parquet -> Delta, then Delta -> Iceberg + Hudi. At the end of
  the run every format's live files are read back through the repo's own
  sources.
- ``query_registry``: the query surface. A fixed panel of registry entries,
  each timed once, the way ``bench.py`` times it (``fn()`` plus a noop
  sink).

A workload's ``setup()`` repeats its set-up unit ``SETUP_REPS`` times and
records each rep's wall and CPU time; ``run(seconds)`` collects the op
samples (wall and CPU seconds per op); ``verify()`` runs the end-of-run
checks; ``detail()`` gives the workload's own metrics and ``layers()`` the
per-layer metrics of a traced run.
"""

from __future__ import annotations

import contextlib
import os
import random
import statistics
import time
from typing import Any

import pyarrow.parquet as pq

from perfbench import gen
from perfbench.trace import Tracer, layer_totals, per_op_median, self_seconds

TARGETS = ("delta_target", "iceberg_target", "hudi_target")
SNAPSHOT_SOURCES = ("delta_source", "iceberg_source", "hudi_source")
META_DIRS = {"delta_target": "_delta_log", "iceberg_target": "metadata", "hudi_target": ".hoodie"}
# controller call -> label: the four set-up calls of one target sync are one
# "prepare" step, and a snapshot or a diff file sync is one "sync_files" step
TARGET_LABELS = {
    "begin_sync": "prepare",
    "sync_metadata": "prepare",
    "sync_schema": "prepare",
    "sync_partition_spec": "prepare",
    "sync_files_for_snapshot": "sync_files",
    "sync_files_for_diff": "sync_files",
}
ALL = ("s", "jobs", "tasks")
TARGET_STEPS = {
    "complete_sync": ALL,
    "sync_files": ALL,
    "get_table_metadata": ALL[:2],
    "prepare": ALL[:2],
}
PARQUET_STEPS = ("get_current_table", "get_commits_backlog", "get_table_change_for_commit")
DELTA_STEPS = ("get_commits_backlog", "get_table_change_for_commit")
PLAN_MODULES = (
    "relational",
    "relational2",
    "relational3",
    "relational4",
    "relational5",
    "relational6",
    "text_queries",
    "vector_queries",
    "events_queries",
    "metadata_queries",
    "pipeline_queries",
)
CONTROLLER = "sync.controller.sync"
# the controller's calls that a per-layer metric reports
REPORTED_CALLS = frozenset(
    [f"targets.{t}.{step}" for t in TARGETS for step in TARGET_STEPS]
    + [f"sources.parquet_source.{step}" for step in PARQUET_STEPS]
    + [f"sources.delta_source.{step}" for step in DELTA_STEPS]
)
# set-up units per run; setup_s takes their median
SETUP_REPS = 3
CLK_TCK = os.sysconf("SC_CLK_TCK")


def _keyed(name: str, keys: tuple[str, ...] = ALL) -> list[tuple[str, str]]:
    return [(f"{name}.{k}", "s" if k == "s" else "count") for k in keys]


def per_layer_names() -> list[tuple[str, str]]:
    """Every per-layer metric as (name, unit), in report order."""
    out: list[tuple[str, str]] = []
    for t in TARGETS:
        for step, keys in TARGET_STEPS.items():
            out += _keyed(f"targets.{t}.{step}", keys)
        out.append((f"targets.{t}.meta_bytes_per_file", "B"))
    for step in PARQUET_STEPS:
        out += _keyed(f"sources.parquet_source.{step}")
    for step in DELTA_STEPS:
        out += _keyed(f"sources.delta_source.{step}")
    for src in SNAPSHOT_SOURCES:
        out += _keyed(f"sources.{src}.get_current_snapshot")
    out += [
        ("sync.controller.self_s", "s"),
        ("sync.controller.unreported_s", "s"),
        ("sync.controller.sync.jobs", "count"),
    ]
    for m in PLAN_MODULES:
        out += _keyed(f"plans.{m}.build", ALL[:2]) + _keyed(f"plans.{m}.exec", ALL[:2])
    out += [
        ("query.build_jobs", "count"),
        ("query.exec_jobs", "count"),
        ("trace.cpu_s_per_op", "s"),
        ("trace.op_p50_s", "s"),
    ]
    return out


def tail_percentile(values: list[float], beyond: int = 10) -> tuple[float | None, float | None]:
    """(q, value) of the highest percentile with at least ``beyond`` samples
    above it, or (None, None) when there are too few samples."""
    n = len(values)
    if n <= beyond:
        return None, None
    ordered = sorted(values)
    idx = n - beyond - 1
    return round(100.0 * (idx + 1) / n, 1), ordered[idx]


JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def _stat_fields(path: str) -> list[str]:
    with open(path, encoding="utf-8") as fh:
        return fh.read().rsplit(")", 1)[1].split()


def cpu_by_kind() -> dict[str, float]:
    """Cumulative CPU seconds (user + system) of this process and every
    process under it, by kind: ``driver`` (this process), ``jvm`` (the JVM
    but its JIT compiler threads), ``jit`` (those threads) and ``workers``
    (Spark's Python workers; reaped children are counted with their
    parent). Time the hypervisor steals is charged to no process."""
    stat: dict[int, list[str]] = {}
    for p in os.listdir("/proc"):
        if p.isdigit():
            with contextlib.suppress(OSError, ValueError, IndexError):
                stat[int(p)] = _stat_fields(f"/proc/{p}/stat")
    kids: dict[int, list[int]] = {}
    for pid, f in stat.items():
        kids.setdefault(int(f[1]), []).append(pid)
    out = dict.fromkeys(("driver", "jvm", "jit", "workers"), 0)
    todo = [os.getpid()]
    while todo:
        pid = todo.pop()
        todo += kids.get(pid, [])
        if pid not in stat:
            continue
        ticks = sum(int(x) for x in stat[pid][11:15])
        if pid == os.getpid():
            out["driver"] += ticks
        elif _comm(f"/proc/{pid}/comm") == "java":
            jit = 0
            with contextlib.suppress(OSError):
                for t in os.listdir(f"/proc/{pid}/task"):
                    with contextlib.suppress(OSError, ValueError, IndexError):
                        task = f"/proc/{pid}/task/{t}"
                        if _comm(f"{task}/comm").startswith(JIT_THREADS):
                            jit += sum(int(x) for x in _stat_fields(f"{task}/stat")[11:13])
            out["jit"] += jit
            out["jvm"] += ticks - jit
        else:
            out["workers"] += ticks
    return {k: v / CLK_TCK for k, v in out.items()}


def _comm(path: str) -> str:
    try:
        with open(path, encoding="utf-8") as fh:
            return fh.read().strip()
    except OSError:
        return ""


def program_cpu_s(kinds: dict[str, float]) -> float:
    """The program's CPU seconds: every kind but the JIT compiler's."""
    return kinds["driver"] + kinds["jvm"] + kinds["workers"]


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


class Workload:
    """Shared state: the Spark session, the tracer, the seed and the run's
    private work directory. ``fault`` names a target to corrupt after each
    sync (negative test of the checks)."""

    def __init__(self, spark: Any, tracer: Tracer, seed: int, work: str, fault: str | None) -> None:
        self.spark = spark
        self.tracer = tracer
        self.seed = seed
        self.work = work
        self.fault = fault
        self.failures: list[tuple[Any, str]] = []
        self.samples: list[float] = []
        self.cpu_samples: list[float] = []
        self.setup_reps: list[float] = []
        self.setup_cpu_reps: list[float] = []
        self.cpu_kinds: list[dict[str, float]] = []
        self.attempted = 0

    def settle(self) -> None:
        """Wait until Spark's listener bus has handled every event so far,
        so the bookkeeping of earlier work never runs inside a timed unit.
        Every run does this before each timed unit, traced or not."""
        self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()

    def fail(self, op: Any, msg: str) -> None:
        self.failures.append((op, msg))

    def failed_ops(self) -> int:
        return min(self.attempted, len({op for op, _ in self.failures}))

    def summary(self) -> dict:
        """The gated op metric and its median, in CPU seconds (0 without a
        successful op; such a run is reported as incorrect)."""
        c = self.cpu_samples
        if not c:
            return {"cpu_s_per_op": 0.0, "op_cpu_p50_s": 0.0}
        return {"cpu_s_per_op": sum(c) / len(c), "op_cpu_p50_s": statistics.median(c)}

    def wall(self) -> dict:
        """Op latency and throughput in wall time (reported, not gated)."""
        s = self.samples
        if not s:
            return {"op_p50_s": None, "ops_per_s": None}
        return {"op_p50_s": statistics.median(s), "ops_per_s": len(s) / sum(s)}

    def start_unit(self) -> tuple[float, dict[str, float]]:
        """Settle, then read the clocks a timed unit starts from."""
        self.settle()
        return time.perf_counter(), cpu_by_kind()

    def end_unit(
        self, start: tuple[float, dict[str, float]], keep: bool = True
    ) -> tuple[float, float]:
        """Wall and program CPU seconds since ``start_unit``; with ``keep``,
        the unit's CPU by kind is appended to ``cpu_kinds``."""
        wall = time.perf_counter() - start[0]
        now = cpu_by_kind()
        kinds = {k: now[k] - start[1][k] for k in now}
        if keep:
            self.cpu_kinds.append({k: round(v, 2) for k, v in kinds.items()})
        return wall, program_cpu_s(kinds)


# -- shared sync helpers ------------------------------------------------------------


def build_targets(spark: Any, base: str, formats: tuple[str, ...], tracer: Tracer) -> dict:
    from incubator_xtable_spark.model.core import TableFormat
    from incubator_xtable_spark.targets.delta_target import DeltaConversionTarget
    from incubator_xtable_spark.targets.hudi_target import HudiConversionTarget
    from incubator_xtable_spark.targets.iceberg_target import IcebergConversionTarget

    name = os.path.basename(base)
    make = {
        "delta_target": (TableFormat.DELTA, lambda: DeltaConversionTarget(spark, base)),
        "iceberg_target": (
            TableFormat.ICEBERG,
            lambda: IcebergConversionTarget(spark, base, table_name=name),
        ),
        "hudi_target": (TableFormat.HUDI, lambda: HudiConversionTarget(spark, base, table_name=name)),
    }
    out = {}
    for layer in formats:
        fmt, ctor = make[layer]
        out[fmt] = tracer.instrument(ctor(), f"targets.{layer}", TARGET_LABELS)
    return out


def snapshot_source(spark: Any, layer: str, base: str) -> Any:
    from incubator_xtable_spark.sources.delta_source import DeltaConversionSource
    from incubator_xtable_spark.sources.hudi_source import HudiConversionSource
    from incubator_xtable_spark.sources.iceberg_source import IcebergConversionSource

    cls = {
        "delta_source": DeltaConversionSource,
        "iceberg_source": IcebergConversionSource,
        "hudi_source": HudiConversionSource,
    }[layer]
    return cls(spark, base)


def bookmark(spark: Any, layer: str, base: str) -> str | None:
    """The target's persisted bookmark, read through a fresh target."""
    target = next(iter(build_targets(spark, base, (layer,), Tracer(spark, False)).values()))
    meta = target.get_table_metadata()
    return meta.last_instant_synced if meta else None


def corrupt(layer: str, base: str) -> None:
    """Negative test of the checks: drop the newest Delta or Hudi commit
    file, or every Iceberg manifest."""
    if layer == "delta_target":
        log = os.path.join(base, "_delta_log")
        os.remove(os.path.join(log, f"{_delta_head(base):020d}.json"))
    elif layer == "iceberg_target":
        meta = os.path.join(base, "metadata")
        for f in os.listdir(meta):
            if f.endswith(".avro") and not f.startswith("snap-"):
                os.remove(os.path.join(meta, f))
    elif layer == "hudi_target":
        hoodie = os.path.join(base, ".hoodie")
        os.remove(os.path.join(hoodie, max(f for f in os.listdir(hoodie) if f.endswith(".commit"))))
    else:
        raise ValueError(f"unknown target {layer!r}")


def _target_layers(spans: list[dict], ops: list[Any]) -> dict[str, float]:
    out = {}
    for t in TARGETS:
        for step, keys in TARGET_STEPS.items():
            name = f"targets.{t}.{step}"
            for k in keys:
                out[f"{name}.{k}"] = per_op_median(spans, ops, name, k)
    return out


def _controller_layers(spans: list[dict], ops: list[Any]) -> dict[str, float]:
    """Per-op medians of the sync time outside every proxied call
    (``self_s``) and of the time in proxied calls no metric reports
    (``unreported_s``); the reported calls, these two and nothing else make
    up the sync."""
    split = [
        self_seconds([s for s in spans if s["op"] == op], CONTROLLER, REPORTED_CALLS) for op in ops
    ]
    return {
        "sync.controller.self_s": statistics.median(x for x, _ in split) if split else 0.0,
        "sync.controller.unreported_s": statistics.median(y for _, y in split) if split else 0.0,
        "sync.controller.sync.jobs": per_op_median(spans, ops, CONTROLLER, "jobs"),
    }


# -- incr_chain ------------------------------------------------------------------

CHAIN_FILES = 8
CHAIN_ROWS = 200
CHAIN_PARTITIONS = 4
CHAIN_WARMUP_CYCLES = 1
# a run times at least this many cycles, even past its --seconds
CHAIN_MIN_CYCLES = 2
READBACK = "readback"


class IncrChain(Workload):
    def setup(self) -> None:
        """The set-up unit is onboarding: land cycle 0 into a fresh table
        directory and FULL-sync it through both hops. The last rep's table is
        the one the run extends. Then come untimed incremental warm-up
        cycles (early cycles pay first-touch class loading and code
        generation); they run the op itself, so they are not set-up time."""
        from incubator_xtable_spark.model.core import InternalPartitionField

        self.partition_fields = [InternalPartitionField("p")]
        # landed commits are one second apart, from a seeded epoch
        self.epoch = 1_600_000_000 + (self.seed % 10_000) * 3_600
        self.ops: list[int] = []
        self.warmup_lags: list[float] = []
        for rep in range(SETUP_REPS):
            start = self.start_unit()
            self.base = os.path.join(self.work, f"chain{rep}")
            self.landed = []
            self.cycle = 0
            self._cycle(timed=False)
            wall, cpu = self.end_unit(start)
            self.setup_reps.append(wall)
            self.setup_cpu_reps.append(cpu)
        for _ in range(CHAIN_WARMUP_CYCLES):
            self.warmup_lags.append(self._cycle(timed=False))

    def _meta_sizes(self) -> dict[str, int]:
        return {t: dir_bytes(os.path.join(self.base, d)) for t, d in META_DIRS.items()}

    def _sync(self, tr: Tracer) -> dict:
        """Hop 1 (Parquet -> Delta) then hop 2 (Delta -> Iceberg + Hudi).
        Like continuous mode, each cycle builds its sources and targets
        afresh and reads the bookmarks back from storage."""
        from incubator_xtable_spark.sources.delta_source import DeltaConversionSource
        from incubator_xtable_spark.sources.parquet_source import ParquetConversionSource
        from incubator_xtable_spark.sync.controller import ConversionController

        src1 = tr.instrument(
            ParquetConversionSource(
                self.spark, self.base, name="chain", partition_fields=self.partition_fields
            ),
            "sources.parquet_source",
        )
        hop1 = build_targets(self.spark, self.base, ("delta_target",), tr)
        with tr.span(CONTROLLER):
            results = ConversionController().sync(src1, hop1)
        src2 = tr.instrument(DeltaConversionSource(self.spark, self.base), "sources.delta_source")
        hop2 = build_targets(self.spark, self.base, ("iceberg_target", "hudi_target"), tr)
        with tr.span(CONTROLLER):
            results.update(ConversionController().sync(src2, hop2))
        return results

    def _cycle(self, timed: bool) -> float:
        """Land one cycle's files and make them visible in all three
        formats; returns the lag. Untimed cycles raise on any error."""
        k = self.cycle
        self.cycle += 1
        mtime = self.epoch + k
        self.landed += gen.land_cycle(
            self.seed, self.base, k, CHAIN_FILES, CHAIN_ROWS, CHAIN_PARTITIONS, mtime
        )
        tr = self.tracer if timed else Tracer(self.spark, False)
        tr.op_id = k
        start = self.start_unit()
        try:
            results = self._sync(tr)
        except Exception as exc:  # noqa: BLE001 - a sync that raises is a failed op
            if not timed:
                raise
            self.fail(k, f"sync raised {type(exc).__name__}: {exc}")
            results = {}
        lag, cpu = self.end_unit(start, keep=timed)
        tr.op_id = None
        if not timed:
            bad = {f.value: r.error for f, r in results.items() if r.status.value != "SUCCESS"}
            if bad or len(results) != len(TARGETS):
                raise RuntimeError(f"set-up cycle {k} failed: {bad}")
            return lag
        if self.fault:
            corrupt(self.fault, self.base)
        tr.count_jobs(k)
        self.attempted += 1
        ok = len(self.failures)
        for fmt, res in results.items():
            if res.status.value != "SUCCESS" or res.mode.value != "INCREMENTAL":
                self.fail(k, f"{fmt.value} {res.mode.value} sync {res.status.value}: {res.error}")
        version = str(_delta_head(self.base))
        want = {"delta_target": str(mtime * 1000), "iceberg_target": version, "hudi_target": version}
        for layer, expect in want.items():
            try:
                got = bookmark(self.spark, layer, self.base)
            except Exception as exc:  # noqa: BLE001
                got = f"{type(exc).__name__}: {exc}"
            if got != expect:
                self.fail(k, f"{layer} bookmark {got!r} != landed commit {expect!r}")
        if len(self.failures) == ok:
            self.samples.append(lag)
            self.cpu_samples.append(cpu)
            self.ops.append(k)
        return lag

    def run(self, seconds: float) -> None:
        meta0 = self._meta_sizes()
        first = self.cycle
        deadline = time.perf_counter() + seconds
        while self.cycle - first < CHAIN_MIN_CYCLES or time.perf_counter() < deadline:
            self._cycle(timed=True)
        landed = CHAIN_FILES * (self.cycle - first)
        grown = self._meta_sizes()
        self.meta_per_file = {t: (grown[t] - meta0[t]) / landed for t in TARGETS}

    def verify(self) -> None:
        """Read every format's live-file list back through the repo's own
        sources (traced as one op); the rows in those files must equal the
        landed rows (count and order-insensitive digest)."""
        expect = _digest(self.landed)
        self.tracer.op_id = READBACK
        t0 = time.perf_counter()
        live: dict[str, list[str]] = {}
        for layer in SNAPSHOT_SOURCES:
            try:
                with self.tracer.span(f"sources.{layer}.get_current_snapshot"):
                    snap = snapshot_source(self.spark, layer, self.base).get_current_snapshot()
                    live[layer] = [r[0] for r in snap.files.select("physical_path").collect()]
            except Exception as exc:  # noqa: BLE001
                self.fail(self.cycle - 1, f"read-back via {layer} raised {type(exc).__name__}: {exc}")
        self.readback_s = time.perf_counter() - t0
        self.tracer.op_id = None
        self.tracer.count_jobs(READBACK)
        self.live_files = sum(len(v) for v in live.values())
        for layer, paths in live.items():
            got = _digest(paths)
            if got != expect:
                # the last cycle's files are the last to become visible
                self.fail(self.cycle - 1, f"rows via {layer} {got} != landed {expect}")

    def detail(self) -> dict:
        q, tail = tail_percentile(self.samples)
        return {
            "files_per_cycle": CHAIN_FILES,
            "rows_per_file": CHAIN_ROWS,
            "cycles": len(self.samples),
            "lags_s": self.samples,
            "cycle_cpu_s": self.cpu_samples,
            "warmup_lags_s": self.warmup_lags,
            "incr_lag_p50_s": statistics.median(self.samples) if self.samples else None,
            "incr_lag_tail_s": tail,
            "incr_lag_tail_pct": q,
            "incr_commits_per_s": self.wall()["ops_per_s"],
            "meta_bytes_per_file": sum(self.meta_per_file.values()),
            "readback_files_per_s": self.live_files / self.readback_s,
        }

    def layers(self) -> dict[str, float]:
        spans = self.tracer.spans
        out = _target_layers(spans, self.ops)
        for t in TARGETS:
            out[f"targets.{t}.meta_bytes_per_file"] = self.meta_per_file[t]
        for layer, steps in (("parquet_source", PARQUET_STEPS), ("delta_source", DELTA_STEPS)):
            for step in steps:
                name = f"sources.{layer}.{step}"
                for k in ALL:
                    out[f"{name}.{k}"] = per_op_median(spans, self.ops, name, k)
        for src in SNAPSHOT_SOURCES:
            name = f"sources.{src}.get_current_snapshot"
            for k in ALL:
                out[f"{name}.{k}"] = per_op_median(spans, [READBACK], name, k)
        out.update(_controller_layers(spans, self.ops))
        return out


def _delta_head(base: str) -> int:
    log = os.path.join(base, "_delta_log")
    return max(int(f[:-5]) for f in os.listdir(log) if f.endswith(".json") and f[:-5].isdigit())


def _digest(paths: list[str]) -> tuple[int, int]:
    rows = total = 0
    for p in paths:
        n, h = gen.rows_digest(pq.read_table(p, columns=["id", "v", "tag"]))
        rows += n
        total = (total + h) & 0xFFFFFFFFFFFFFFFF
    return rows, total


# -- query_registry --------------------------------------------------------------

QUERY_SF = 0.01
# every registry module but streaming_queries, whose entries cost a whole run
# each (see README); all entries carry a DuckDB oracle
QUERY_PANEL = (
    "q03_shipping_priority",
    "q05_local_supplier_volume",
    "correlated_above_avg_balance",
    "q02_min_cost_supplier",
    "q22_global_sales_opportunity",
    "percentile_price_by_priority",
    "q04_order_priority",
    "q13_customer_distribution",
    "text_winnow_fingerprint",
    "text_bpe_encode",
    "dedup_embedding_cosine",
    "events_funnel",
    "events_retention_cohorts",
    "meta_column_stats",
    "ann_lsh_topk",
    "multimodal_features",
)
# oracle-checked entries per run (a seeded choice, so runs cover them all)
ORACLE_CHECKS = 1


class QueryRegistry(Workload):
    def setup(self) -> None:
        """The set-up unit is the tables, written into a fresh directory,
        then bench.py's first untimed warm-up on them (JVM/codegen). The
        panel reads the last rep's tables. bench.py's second warm-up, one
        Python worker per core, runs once after the reps."""
        from incubator_xtable_spark.plans.registry import REGISTRY, _load_all

        _load_all()
        self.registry = REGISTRY
        self.entry_s: dict[str, float] = {}
        for rep in range(SETUP_REPS):
            start = self.start_unit()
            self.sf_dir = os.path.join(self.work, f"sf{rep}")
            gen.write_sf_tables(self.seed, QUERY_SF, self.sf_dir)
            self.registry["q01_pricing_summary"].fn(self.spark, self.sf_dir).write.mode(
                "overwrite"
            ).format("noop").save()
            wall, cpu = self.end_unit(start)
            self.setup_reps.append(wall)
            self.setup_cpu_reps.append(cpu)

        def _identity(batches):
            yield from batches

        slots = self.spark.sparkContext.defaultParallelism
        self.spark.range(0, slots, 1, slots).mapInPandas(_identity, "id long").write.mode(
            "overwrite"
        ).format("noop").save()

    def run(self, seconds: float) -> None:
        """One pass over the panel, in panel order. Each entry is timed
        once, on its first call, exactly like bench.py: ``fn()`` is the plan
        build, the noop-sink write the execution. The panel is sized to
        about one run, so ``seconds`` is not used: a second pass would time
        warm calls, which are a different measurement."""
        for name in QUERY_PANEL:
            spec = self.registry[name]
            module = spec.fn.__module__.rsplit(".", 1)[-1]
            self.tracer.op_id = name
            self.attempted += 1
            start = self.start_unit()
            try:
                with self.tracer.span(f"plans.{module}.build"):
                    df = spec.fn(self.spark, self.sf_dir)
                with self.tracer.span(f"plans.{module}.exec"):
                    df.write.mode("overwrite").format("noop").save()
            except Exception as exc:  # noqa: BLE001 - a failed entry is a failed op
                self.fail(name, f"{type(exc).__name__}: {exc}")
                continue
            finally:
                self.tracer.op_id = None
            self.entry_s[name], cpu = self.end_unit(start)
            self.samples.append(self.entry_s[name])
            self.cpu_samples.append(cpu)
            self.tracer.count_jobs(name)

    def verify(self) -> None:
        """Oracle-bearing panel entries (a seeded choice of ``ORACLE_CHECKS``
        per run) match their DuckDB oracle SQL, outside the timed pass."""
        import duckdb

        from incubator_xtable_spark.sources.tables import TABLE_NAMES

        checkable = [n for n in QUERY_PANEL if self.registry[n].oracle]
        self.oracle_checked = random.Random(self.seed).sample(checkable, ORACLE_CHECKS)
        con = duckdb.connect()
        try:
            for t in TABLE_NAMES:
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.sf_dir}/{t}.parquet')"
                )
            for name in self.oracle_checked:
                spec = self.registry[name]
                got = _canon(spec.fn(self.spark, self.sf_dir).toPandas())
                want = _canon(con.execute(spec.oracle).df())
                if got != want:
                    self.fail(name, "Spark result differs from its DuckDB oracle")
        finally:
            con.close()

    def detail(self) -> dict:
        times = sorted(self.samples)
        return {
            "sf": QUERY_SF,
            "entries": len(QUERY_PANEL),
            "query_total_s": sum(times),
            "query_p50_s": statistics.median(times) if times else None,
            # p90 over the panel's entries (few entries: nearest rank)
            "query_tail_s": times[max(0, round(0.9 * len(times)) - 1)] if times else None,
            "entry_s": {n: round(t, 4) for n, t in self.entry_s.items()},
            "entry_cpu_s": [round(c, 2) for c in self.cpu_samples],
            "oracle_checked": self.oracle_checked,
        }

    def layers(self) -> dict[str, float]:
        """Per module: busy seconds and jobs of the plan builds and of the
        executions in the pass."""
        out = {}
        spans = self.tracer.spans
        for m in PLAN_MODULES:
            for phase in ("build", "exec"):
                tot = layer_totals(spans, f"plans.{m}.{phase}")
                out[f"plans.{m}.{phase}.s"] = tot["s"]
                out[f"plans.{m}.{phase}.jobs"] = tot["jobs"]
        out["query.build_jobs"] = sum(out[f"plans.{m}.build.jobs"] for m in PLAN_MODULES)
        out["query.exec_jobs"] = sum(out[f"plans.{m}.exec.jobs"] for m in PLAN_MODULES)
        return out


def _canon(pdf) -> list[tuple]:
    """The oracle comparison of tests/test_oracle_parity.py: columns sorted
    by name, rows sorted, cells compared as strings."""
    pdf = pdf.reindex(sorted(pdf.columns), axis=1)
    cols = list(pdf.columns)
    if cols and len(pdf):
        pdf = pdf.sort_values(by=cols, kind="mergesort")
    return [tuple(r) for r in pdf.astype(str).itertuples(index=False)]


WORKLOADS = {"incr_chain": IncrChain, "query_registry": QueryRegistry}
