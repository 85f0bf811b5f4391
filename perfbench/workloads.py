"""The benchmark's workloads: closed loops with one client.

Each workload generates its inputs once per run (``generate``), then
``run`` sets up ``SETUPS`` times, measures the loop and checks every
output outside the timed region. A failed or wrong operation is recorded
in ``Result.failures`` and the loop goes on; nothing is swallowed.

- ``etl_ingest``: the reference's own ETL DAG, ``pipeline.driver.
  run_pipeline``, over batch 1 into an empty lake and batch 2 (the next
  month) on top of it.
- ``registry_sample``: a seeded, family-stratified sample of the query
  registry plus every ``q_stream_*`` query, each built and executed
  through the noop sink.
"""

from __future__ import annotations

import importlib.util
import os
import random
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback
from dataclasses import dataclass, field

from spans import Tracer

PKG = "lakehouse_ecommerce_etl_pipeline_spark"
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SETUPS = 5  # set-ups per run; setup_s is their median


def _median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


@dataclass
class Result:
    tracer: Tracer | None
    setup_seconds: list[float] = field(default_factory=list)
    pass_seconds: list[float] = field(default_factory=list)
    op_seconds: list[float] = field(default_factory=list)
    op_names: list[str] = field(default_factory=list)
    attempted: int = 0
    failures: list[str] = field(default_factory=list)
    note: str = ""
    extra: dict = field(default_factory=dict)

    def fail(self, what: str) -> None:
        self.failures.append(what)
        print(f"# failure: {what}", file=sys.stderr)


def relocate_scratch(work: str) -> None:
    """Point the engine's hard-coded ``/tmp`` scratch roots into ``work``.

    ``plans._helpers.work_dir`` and ``streaming.windows._as_stream_dir``
    build their paths from the literal ``"/tmp"``; replacing that one
    constant in their code objects moves every derived artifact, format
    fixture and stream staging directory into the checkout without
    editing the engine. Fails loudly if either function changed shape.
    """
    from lakehouse_ecommerce_etl_pipeline_spark.plans import _helpers
    from lakehouse_ecommerce_etl_pipeline_spark.streaming import windows

    for fn in (_helpers.work_dir, windows._as_stream_dir):
        consts = fn.__code__.co_consts
        if "/tmp" not in consts:
            raise RuntimeError(f"{fn.__qualname__} no longer roots its scratch at /tmp")
        fn.__code__ = fn.__code__.replace(
            co_consts=tuple(work if c == "/tmp" else c for c in consts)
        )


def _proc_stat(pid: int) -> list[str] | None:
    """The fields of ``/proc/<pid>/stat`` after the command name
    (state, ppid, ...), or None once the process is gone."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            stat = fh.read()
    except OSError:
        return None
    return stat[stat.rindex(")") + 2:].split()


def descendants(pid: int) -> list[int]:
    """Every process below ``pid``, from ``/proc``."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit() and (f := _proc_stat(int(entry))) is not None:
            children.setdefault(int(f[1]), []).append(int(entry))
    found, todo = [], [pid]
    while todo:
        for child in children.get(todo.pop(), []):
            found.append(child)
            todo.append(child)
    return found


def adopt_orphans() -> None:
    """Make this process the reaper of its orphaned descendants, so a
    Python worker or shell helper left behind by the JVM becomes this
    process's child and can be waited for (Linux ``PR_SET_CHILD_SUBREAPER``)."""
    import ctypes

    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(36, 1, 0, 0, 0) != 0:  # 36: PR_SET_CHILD_SUBREAPER
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER) failed")


def _running_below(pid: int) -> list[int]:
    """The descendants of ``pid`` that have not exited (zombies excluded)."""
    return [p for p in descendants(pid) if (f := _proc_stat(p)) and f[0] != "Z"]


def _reap_children() -> None:
    """Wait for every child of this process that has exited."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def stop_spark(spark) -> None:
    """Stop ``spark`` and the JVM behind it, and wait until the JVM and
    every process it started (Python worker daemons, shell helpers) have
    ended and been reaped.

    ``SparkSession.stop`` leaves the gateway JVM running until the Python
    process exits, and it then dies on its own a moment later; closing
    its stdin here makes it exit now, while it can still be waited for.
    The JVM's own children are orphaned by its exit and, after
    ``adopt_orphans``, become children of this process.
    """
    try:
        if spark is not None:
            spark.stop()
    finally:
        _stop_jvm()


def _stop_jvm() -> None:
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    SparkContext._gateway = SparkContext._jvm = None
    gateway.shutdown()
    jvm = gateway.proc
    jvm.stdin.close()  # the JVM exits when its stdin closes
    try:
        jvm.wait(timeout=30)
    except subprocess.TimeoutExpired:
        jvm.kill()
        jvm.wait()
    me, start = os.getpid(), time.monotonic()
    while left := _running_below(me):
        waited = time.monotonic() - start
        if waited > 20:
            raise RuntimeError(f"processes still running after Spark stopped: {left}")
        if waited > 10:
            for pid in left:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        time.sleep(0.05)
    _reap_children()


def _du(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(dirpath, f))
    return total


def _ratio(a: float, b: float) -> float:
    return a / b if b else 0.0


class Workload:
    """Shared set-up and tracing plumbing."""

    def __init__(self, seed: int, work: str, tiny: bool = False) -> None:
        self.seed = seed
        self.work = work
        self.tiny = tiny
        self.spark = None
        self.cores = int(os.environ["SPARK_GRAFT_CPUS"])

    # -- hooks ----------------------------------------------------------
    def generate(self) -> None:
        raise NotImplementedError

    def reset(self) -> None:
        """Clear what a previous set-up or loop left behind."""

    def warm_up(self, spark) -> None:
        raise NotImplementedError

    def install(self, tracer: Tracer) -> None:
        raise NotImplementedError

    def loop(self, res: Result, seconds: float) -> None:
        raise NotImplementedError

    def layer_metrics(self, res: Result) -> dict[str, tuple[float, str]]:
        raise NotImplementedError

    # -- run ------------------------------------------------------------
    def new_tracer(self) -> Tracer:
        return Tracer(self.spark, run_id=f"bench-{self.seed}")

    def run(self, seconds: float, tracer: Tracer | None) -> Result:
        from lakehouse_ecommerce_etl_pipeline_spark.session import get_spark

        res = Result(tracer)
        for _ in range(SETUPS):
            # stopping the previous session is tear-down, not set-up
            if self.spark is not None:
                self.spark.stop()
            t0 = time.perf_counter()
            if tracer:
                with tracer.span("session.get_spark", jobs=False):
                    self.spark = get_spark("perfbench")
                tracer.spark = self.spark
            else:
                self.spark = get_spark("perfbench")
            self.reset()
            self.warm_up(self.spark)
            res.setup_seconds.append(time.perf_counter() - t0)
        if tracer:
            self.install(tracer)
        t0 = time.perf_counter()
        try:
            self.loop(res, seconds)
        finally:
            if tracer:
                tracer.close()
        res.note += (f" setups_total_s={sum(res.setup_seconds):.1f}"
                     f" loop_wall_s={time.perf_counter() - t0:.1f}")
        return res

    def close(self) -> None:
        """Stop Spark, its JVM and every process the JVM started."""
        if getattr(self, "_con", None) is not None:
            self._con.close()
            self._con = None
        spark, self.spark = self.spark, None
        stop_spark(spark)

    def session_metrics(self, res: Result) -> dict[str, tuple[float, str]]:
        spans = res.tracer.named("session.get_spark")
        return {
            "session.get_spark_s": (
                _median([s.seconds for s in spans]), "s"),
            "trace.bookkeeping_s": (res.tracer.bookkeeping_s, "s"),
        }


# ---------------------------------------------------------------------------
# etl_ingest
# ---------------------------------------------------------------------------


class EtlIngest(Workload):
    """Batch 1 into an empty lake, then batch 2 (next month) on top, with
    a fresh lake for every cycle; one processed file is one operation."""

    def generate(self) -> None:
        from etl_inputs import EtlGenerator, EtlSize

        size = EtlSize(products=80, orders=240, items=720) if self.tiny else EtlSize()
        gen = EtlGenerator(self.seed, size)
        self.inputs = os.path.join(self.work, "inputs")
        self.batches = [
            gen.write_batch(os.path.join(self.inputs, f"b{n}"), n) for n in (1, 2)
        ]
        self.lake = os.path.join(self.work, "lake")
        self._timer_originals = None

    def reset(self) -> None:
        shutil.rmtree(self.lake, ignore_errors=True)
        os.makedirs(os.path.join(self.lake, "raw"))

    def warm_up(self, spark) -> None:
        # first action of the session: executor pool and codegen start-up
        spark.range(1000).selectExpr("sum(id)").collect()

    def install(self, tracer: Tracer) -> None:
        from lakehouse_ecommerce_etl_pipeline_spark.pipeline import driver
        from lakehouse_ecommerce_etl_pipeline_spark.sinks import catalog, processed_log

        mods = [driver]
        tracer.wrap("pipeline.run_dataset", driver.run_dataset, mods)
        tracer.wrap("sources.read_source", driver.read_source, mods, jobs=False)
        tracer.wrap("operators.transform", driver.transform, mods, jobs=False)
        tracer.wrap("sinks.write_rejected", driver.write_rejected, mods)
        tracer.wrap("sinks.merge_upsert", driver.merge_upsert, mods)
        tracer.wrap("sinks.processed_log", processed_log.is_processed, [])
        tracer.wrap("sinks.processed_log", processed_log.mark_processed, [])
        tracer.wrap("sinks.catalog", catalog.register_table_external, [])
        tracer.wrap("sinks.catalog", catalog.count_star, [])

    def _install_timers(self, res: Result, skipped: list[str]) -> None:
        """Per-file operation timer: from the marker check that starts a
        file to the marker write that ends it (skipped files excluded)."""
        from lakehouse_ecommerce_etl_pipeline_spark.sinks import processed_log

        is_p, mark_p = processed_log.is_processed, processed_log.mark_processed
        started: list[float] = []

        def is_processed(spark, base, dataset, name):
            started[:] = [time.perf_counter()]
            done = is_p(spark, base, dataset, name)
            if done:
                skipped.append(f"{dataset}/{name}")
            return done

        def mark_processed(spark, base, dataset, name):
            mark_p(spark, base, dataset, name)
            res.op_seconds.append(time.perf_counter() - started[0])
            res.op_names.append(name)

        processed_log.is_processed = is_processed
        processed_log.mark_processed = mark_processed
        self._timer_originals = (is_p, mark_p)

    def _remove_timers(self) -> None:
        from lakehouse_ecommerce_etl_pipeline_spark.sinks import processed_log

        if self._timer_originals:
            processed_log.is_processed, processed_log.mark_processed = \
                self._timer_originals
            self._timer_originals = None

    def loop(self, res: Result, seconds: float) -> None:
        skipped: list[str] = []
        self._install_timers(res, skipped)
        res.extra.update(batch_s=[[], []], batch_spans=[[], []], table_bytes=[[], []],
                         rows=0, cycles=0)
        start = time.perf_counter()
        try:
            while res.extra["cycles"] == 0 or time.perf_counter() - start < seconds:
                if res.extra["cycles"]:
                    self.reset()
                self._cycle(res, skipped)
                res.extra["cycles"] += 1
        finally:
            self._remove_timers()
        res.extra["skipped"] = len(skipped)
        res.note = f"cycles={res.extra['cycles']} files_skipped={len(skipped)}"

    def _cycle(self, res: Result, skipped: list[str]) -> None:
        from lakehouse_ecommerce_etl_pipeline_spark.pipeline.driver import run_pipeline

        tracer = res.tracer
        total = 0.0
        for i, batch in enumerate(self.batches):
            shutil.copytree(os.path.join(self.inputs, f"b{i + 1}"),
                            os.path.join(self.lake, "raw"), dirs_exist_ok=True)
            res.extra["table_bytes"][i].append(_du(os.path.join(self.lake, "processed")))
            n_skipped = len(skipped)
            res.attempted += 1
            t0 = time.perf_counter()
            try:
                if tracer:
                    with tracer.span("pipeline.batch", batch=i + 1) as sp:
                        out = run_pipeline(self.spark, self.lake)
                    res.extra["batch_spans"][i].append(sp)
                else:
                    out = run_pipeline(self.spark, self.lake)
            except Exception:  # noqa: BLE001 — recorded as a failed operation
                res.fail(f"batch {i + 1}: {traceback.format_exc(limit=3)}")
                return
            dt = time.perf_counter() - t0
            res.extra["batch_s"][i].append(dt)
            total += dt
            res.extra["rows"] += batch.raw_rows
            self._check(res, i + 1, batch, out, len(skipped) - n_skipped)
        res.pass_seconds.append(total)

    def _check(self, res: Result, n: int, batch, out, n_skipped: int) -> None:
        """Exact expected counts, PK uniqueness, FK closure of order_items,
        and the marker skip of re-dropped files."""
        from lakehouse_ecommerce_etl_pipeline_spark.pipeline.jobs import JOBS
        from lakehouse_ecommerce_etl_pipeline_spark.sinks import processed_log
        from lakehouse_ecommerce_etl_pipeline_spark.sources import table as managed

        spark = self.spark
        proc = os.path.join(self.lake, "processed")
        tables = {d: managed.read(spark, os.path.join(proc, d)) for d in JOBS}
        checks: list[tuple[str, object, object]] = []
        for d, job in JOBS.items():
            t = tables[d]
            n_rows = t.count()
            checks.append((f"{d} loaded", n_rows, batch.loaded[d]))
            checks.append((f"{d} reported loaded", out.get(d, {}).get("loaded"),
                           batch.loaded[d]))
            checks.append((f"{d} unique {job.merge_key}",
                           t.select(job.merge_key).distinct().count(), n_rows))
        rejected = {
            d: managed.read(spark, os.path.join(proc, d + "_rejected")).count()
            for d in JOBS
        }
        expected_rej = {d: sum(b.rejected[d] for b in self.batches[:n]) for d in JOBS}
        checks.append(("rejected per dataset", rejected, expected_rej))
        items = tables["order_items"]
        orphans = (
            items.join(tables["orders"].select("order_id"), "order_id", "left_anti")
            .unionByName(items.join(tables["products"].select("product_id"),
                                    "product_id", "left_anti"))
            .count()
        )
        checks.append(("order_items FK orphans", orphans, 0))
        marks = managed.read(spark, processed_log.log_path(proc))
        n_marks = marks.count()
        expected_marks = sum(b.processed_files for b in self.batches[:n])
        checks.append(("marker rows", n_marks, expected_marks))
        checks.append(("marker rows unique",
                       marks.select("dataset", "file_name").distinct().count(), n_marks))
        checks.append(("files skipped by marker", n_skipped, batch.skipped))
        left = sum(len(os.listdir(os.path.join(self.lake, "raw", d)))
                   for d in os.listdir(os.path.join(self.lake, "raw")))
        checks.append(("re-dropped files left in raw", left, batch.skipped))
        wrong = [f"{what}: got {got}, want {want}"
                 for what, got, want in checks if got != want]
        if wrong:
            res.fail(f"batch {n}: " + "; ".join(wrong))

    def layer_metrics(self, res: Result) -> dict[str, tuple[float, str]]:
        tr = res.tracer
        m = self.session_metrics(res)
        tot = tr.totals
        merge = tot("sinks.merge_upsert")
        calls = tot("pipeline.run_dataset")["calls"]
        inputs, denom, run_ms, wall, self_s = 0.0, 0.0, 0.0, 0.0, 0.0
        for i, spans in enumerate(res.extra["batch_spans"]):
            for sp, before in zip(spans, res.extra["table_bytes"][i]):
                c = tr.subtree_counters(sp)
                inputs += c.get("input_bytes", 0)
                denom += self.batches[i].raw_bytes + before
                run_ms += c.get("executor_run_ms", 0)
                wall += sp.seconds
                self_s += tr.self_seconds(sp)
        written = sum(s.counters.get("output_bytes", 0) for s in tr.spans
                      if s.name.startswith("sinks."))
        final = 0
        proc = os.path.join(self.lake, "processed")
        from lakehouse_ecommerce_etl_pipeline_spark.sources import table as managed

        for d in sorted(os.listdir(proc)):
            final += _du(managed.current_data_path(os.path.join(proc, d)))
        load = res.extra["batch_s"][0]
        upsert = res.extra["batch_s"][1]
        m.update({
            "pipeline.load_s": (_median(load), "s"),
            "pipeline.upsert_s": (_median(upsert), "s"),
            "pipeline.rows_per_s": (
                _ratio(res.extra["rows"], sum(load) + sum(upsert)), "rows/s"),
            "pipeline.run_dataset_calls": (calls, "count"),
            "pipeline.files_skipped": (res.extra["skipped"], "count"),
            "pipeline.retries": (
                calls - sum(b.processed_files for b in self.batches) * res.extra["cycles"],
                "count"),
            "pipeline.self_s": (self_s, "s"),
            "pipeline.core_busy_share": (_ratio(run_ms / 1000, wall * self.cores),
                                         "ratio"),
            "sources.read_source_s": (tot("sources.read_source")["s"], "s"),
            "sources.scan_amplification": (_ratio(inputs, denom), "ratio"),
            "operators.transform_s": (tot("operators.transform")["s"], "s"),
            "sinks.write_rejected_s": (tot("sinks.write_rejected")["s"], "s"),
            "sinks.merge_upsert_s": (merge["s"], "s"),
            "sinks.merge_upsert.executor_run_s": (
                merge.get("executor_run_ms", 0) / 1000, "s"),
            "sinks.merge_upsert.output_bytes": (merge.get("output_bytes", 0), "bytes"),
            "sinks.processed_log_s": (tot("sinks.processed_log")["s"], "s"),
            "sinks.catalog_s": (tot("sinks.catalog")["s"], "s"),
            "sinks.write_amplification": (_ratio(written, final), "ratio"),
        })
        return m


# ---------------------------------------------------------------------------
# registry_sample
# ---------------------------------------------------------------------------

SHARED_ARTIFACT_BUILDERS = [
    ("plans._helpers", "order_part_pairs"),
    ("plans._helpers", "order_part_edges"),
    ("plans._helpers", "copurchase_graph"),
    ("plans.llm", "vector_reps_artifact"),
    ("plans.llm", "document_reps_artifact"),
    ("plans.analytics36", "shingle_set_reps_artifact"),
    ("plans.analytics16", "degree_oriented_copurchase_edges"),
    ("plans.analytics41", "nested_orders"),
]


def family(fn) -> str:
    """The plans/ family of a query: its module name without the round
    number (``analytics17`` -> ``analytics``)."""
    return re.sub(r"\d+$", "", fn.__module__.rsplit(".", 1)[-1])


def load_check_oracle():
    """``scripts/check_oracle.py``'s comparison helpers, imported as is."""
    path = os.path.join(ROOT, "scripts", "check_oracle.py")
    spec = importlib.util.spec_from_file_location("check_oracle", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


class RegistrySample(Workload):
    """A seeded, family-stratified registry sample plus one streaming
    query per streaming/ module, at sf0.001; one query build+execute is
    one operation."""

    SF = 0.001
    SAMPLE_SEED = 0  # fixed: every run measures the same queries
    # one per streaming/ module (windows, stateful, joins, late, ingest),
    # not all of them: a run must fit its share of the run budget
    # (NOTES.md, what was left out)
    STREAMS = (
        "q_stream_tumbling_agg",
        "q_stream_transform_with_state",
        "q_stream_interval_join",
        "q_stream_late_drop",
        "q_stream_protobuf_ingest",
    )

    def generate(self) -> None:
        import star_inputs

        from lakehouse_ecommerce_etl_pipeline_spark import plans

        relocate_scratch(self.work)
        self.sf_dir = os.path.join(self.work, "data", f"sf{self.SF}")
        star_inputs.write(self.sf_dir, self.SF, self.seed)
        self.queries = plans.queries()
        self.oracles = plans.oracle_sql()
        self.names = self.sample(self.queries, tiny=self.tiny)
        self.check_oracle = load_check_oracle()

    @classmethod
    def sample(cls, queries: dict, tiny: bool = False) -> list[str]:
        """One query drawn from each plans/ family, streaming queries
        aside, then ``STREAMS``."""
        rng = random.Random(cls.SAMPLE_SEED)
        by_family: dict[str, list[str]] = {}
        for name, fn in queries.items():
            if not name.startswith("q_stream_"):
                by_family.setdefault(family(fn), []).append(name)
        picked = []
        for fam in sorted(by_family):
            picked += rng.sample(by_family[fam], 1)
        streams = list(cls.STREAMS)
        if tiny:
            picked, streams = picked[:3], streams[:1]
        return picked + streams

    def reset(self) -> None:
        from lakehouse_ecommerce_etl_pipeline_spark.plans._helpers import work_dir

        # all derived scratch of this scale factor: shared artifacts,
        # session spills, stream checkpoints and format fixtures. The data
        # is new in every run, so a query's first build writes its fixture
        # inside the timed loop, as in a registry sweep over fresh data.
        shutil.rmtree(work_dir(self.sf_dir), ignore_errors=True)

    def warm_up(self, spark) -> None:
        self.queries["q_groupby_agg"](spark, self.sf_dir).write.format(
            "noop").mode("overwrite").save()

    def install(self, tracer: Tracer) -> None:
        from lakehouse_ecommerce_etl_pipeline_spark.plans import _helpers

        mods = [m for n, m in list(sys.modules.items())
                if n.startswith(PKG + ".") and m is not None]
        tracer.wrap("plans._helpers.load", _helpers.load, mods)
        for modname, attr in SHARED_ARTIFACT_BUILDERS:
            fn = getattr(sys.modules[f"{PKG}.{modname}"], attr)
            tracer.wrap("plans._helpers.shared_artifact", fn, mods)
        tracer.listen_streams()

    def loop(self, res: Result, seconds: float) -> None:
        tracer = res.tracer
        start = time.perf_counter()
        checked: set[str] = set()
        while not res.pass_seconds or time.perf_counter() - start < seconds:
            total = 0.0
            for name in self.names:
                res.attempted += 1
                t0 = time.perf_counter()
                try:
                    if tracer:
                        with tracer.span("plans.build", query=name):
                            df = self.queries[name](self.spark, self.sf_dir)
                        with tracer.span("exec", query=name):
                            df.write.format("noop").mode("overwrite").save()
                    else:
                        df = self.queries[name](self.spark, self.sf_dir)
                        df.write.format("noop").mode("overwrite").save()
                except Exception:  # noqa: BLE001 — recorded as a failed operation
                    res.fail(f"{name}: {traceback.format_exc(limit=3)}")
                    continue
                dt = time.perf_counter() - t0
                res.op_seconds.append(dt)
                res.op_names.append(name)
                total += dt
                if name not in checked:
                    checked.add(name)
                    self._check(res, name, df)
            res.pass_seconds.append(total)
        res.note = f"queries={len(self.names)} sf={self.SF}"

    def _check(self, res: Result, name: str, df) -> None:
        """Row count and order-insensitive values against the DuckDB
        ``oracle_sql()`` twin, where one exists."""
        try:
            got = df.toPandas()
        except Exception:  # noqa: BLE001 — recorded as a failed check
            res.fail(f"{name} collect: {traceback.format_exc(limit=3)}")
            return
        oracle = self.oracles.get(name)
        if oracle is None:
            return
        con = self._duck()
        try:
            want = con.execute(oracle).fetchdf()
        except Exception:  # noqa: BLE001 — recorded as a failed check
            res.fail(f"{name} oracle: {traceback.format_exc(limit=3)}")
            return
        ok, why = self.check_oracle.frames_equal(got, want)
        if not ok:
            res.fail(f"{name} oracle mismatch: {why}")

    def _duck(self):
        if getattr(self, "_con", None) is None:
            import duckdb

            self._con = duckdb.connect()
            for t in self.check_oracle.TABLES:
                self._con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM '{self.sf_dir}/{t}.parquet'")
        return self._con

    def layer_metrics(self, res: Result) -> dict[str, tuple[float, str]]:
        tr = res.tracer
        m = self.session_metrics(res)
        builds = tr.named("plans.build")
        build_jobs = sum(tr.subtree_counters(s).get("jobs", 0) for s in builds)
        load = tr.totals("plans._helpers.load")
        shared = tr.totals("plans._helpers.shared_artifact")
        ex = tr.totals("exec")
        run_s = ex.get("executor_run_ms", 0) / 1000
        cpu_s = ex.get("executor_cpu_ns", 0) / 1e9
        m.update({
            "plans.build_s": (tr.totals("plans.build")["s"], "s"),
            "plans.build_jobs": (build_jobs, "count"),
            "plans._helpers.load_s": (load["s"], "s"),
            "plans._helpers.load_jobs": (load.get("jobs", 0), "count"),
            "plans._helpers.shared_artifact_s": (shared["s"], "s"),
            "exec.s": (ex["s"], "s"),
            "exec.jobs": (ex.get("jobs", 0), "count"),
            "exec.stages": (ex.get("stages", 0), "count"),
            "exec.tasks": (ex.get("tasks", 0), "count"),
            "exec.executor_run_s": (run_s, "s"),
            "exec.executor_cpu_s": (cpu_s, "s"),
            "exec.input_bytes": (ex.get("input_bytes", 0), "bytes"),
            "exec.shuffle_read_bytes": (ex.get("shuffle_read_bytes", 0), "bytes"),
            "exec.shuffle_write_bytes": (ex.get("shuffle_write_bytes", 0), "bytes"),
            "exec.spill_bytes": (
                ex.get("memory_spill_bytes", 0) + ex.get("disk_spill_bytes", 0), "bytes"),
            "exec.core_busy_share": (_ratio(run_s, ex["s"] * self.cores), "ratio"),
            "exec.jvm_cpu_share": (_ratio(cpu_s, run_s), "ratio"),
            "streaming.s": (tr.stream_ms / 1000, "s"),
            "streaming.batches": (tr.stream_batches, "count"),
        })
        return m


WORKLOADS = {"etl_ingest": EtlIngest, "registry_sample": RegistrySample}


# Every per-layer metric a traced run prints, with its unit and which way
# is better; a metric of a layer the workload never reaches reads 0.
PER_LAYER: dict[str, tuple[str, str]] = {
    "session.get_spark_s": ("s", "lower"),
    "plans.build_s": ("s", "lower"),
    "plans.build_jobs": ("count", "lower"),
    "plans._helpers.load_s": ("s", "lower"),
    "plans._helpers.load_jobs": ("count", "lower"),
    "plans._helpers.shared_artifact_s": ("s", "lower"),
    "exec.s": ("s", "lower"),
    "exec.jobs": ("count", "lower"),
    "exec.stages": ("count", "lower"),
    "exec.tasks": ("count", "lower"),
    "exec.executor_run_s": ("s", "lower"),
    "exec.executor_cpu_s": ("s", "lower"),
    "exec.input_bytes": ("bytes", "lower"),
    "exec.shuffle_read_bytes": ("bytes", "lower"),
    "exec.shuffle_write_bytes": ("bytes", "lower"),
    "exec.spill_bytes": ("bytes", "lower"),
    "exec.core_busy_share": ("ratio", "higher"),
    "exec.jvm_cpu_share": ("ratio", "higher"),
    "sources.read_source_s": ("s", "lower"),
    "sources.scan_amplification": ("ratio", "lower"),
    "operators.transform_s": ("s", "lower"),
    "sinks.write_rejected_s": ("s", "lower"),
    "sinks.merge_upsert_s": ("s", "lower"),
    "sinks.merge_upsert.executor_run_s": ("s", "lower"),
    "sinks.merge_upsert.output_bytes": ("bytes", "lower"),
    "sinks.processed_log_s": ("s", "lower"),
    "sinks.catalog_s": ("s", "lower"),
    "sinks.write_amplification": ("ratio", "lower"),
    "pipeline.load_s": ("s", "lower"),
    "pipeline.upsert_s": ("s", "lower"),
    "pipeline.rows_per_s": ("rows/s", "higher"),
    "pipeline.run_dataset_calls": ("count", "lower"),
    "pipeline.files_skipped": ("count", "higher"),
    "pipeline.retries": ("count", "lower"),
    "pipeline.self_s": ("s", "lower"),
    "pipeline.core_busy_share": ("ratio", "higher"),
    "streaming.s": ("s", "lower"),
    "streaming.batches": ("count", "lower"),
    "trace.bookkeeping_s": ("s", "lower"),
    "overhead.setup_s": ("s", "lower"),
    "overhead.pass_s": ("s", "lower"),
    "overhead.op_p50_s": ("s", "lower"),
    "overhead.op_tail_s": ("s", "lower"),
}
