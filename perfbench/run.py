#!/usr/bin/env python3
"""Benchmark runner for the validation engine.

    python3 perfbench/run.py --workload flagship_global --seed 1 \
        --seconds 10 --trace 0

Run from the root of a checkout. One process drives one workload as a
closed loop with a single caller: set up (session start, cold iteration,
warm-up), then repeat the workload's job for ``--seconds`` (at least
``min_measured`` times) and report medians. Every iteration's outputs
are checked against values computed without the engine (``expect.py``);
a wrong output or an exception counts as a failed operation.

The last stdout line is one JSON object. ``--trace 0`` reports the
end-to-end metrics: docs per CPU-second and CPU-seconds to verdicts
(medians over the measured iterations, counting the JVM's non-JIT
threads, the Python workers and this process; host steal does not
inflate them) and set-up seconds. The wall-clock docs/s and seconds to
verdicts go to stderr. ``--trace 1`` alternates traced and untraced
iterations and reports per-layer metrics from spans taken around each
call into the package (see ``Tracer``). Spans are written to
``.bench_work/trace-<workload>-<seed>.jsonl`` at exit.

Workloads (sizes in ``config.json``):

* ``flagship_global`` — one global partition, broadcast domain
  dimension; the fused cube/profile scans and violation extraction
  dominate, SR scores ~13 series.
* ``incremental_churn`` — two domain-partitioned parquet snapshots, 5 %
  of the cold domains' text changed; the daily job reads the stored
  digests, validates only the churned partitions, sinks violations as
  parquet, carries the manifest forward and commits the new digests.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import sys
import time

T_PROCESS = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_work")
TMP = os.path.join(WORK, "tmp")

now = time.perf_counter


# --------------------------------------------------------------- environment


def host_env() -> dict:
    cores = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_kib = int(next(line for line in f if line.startswith("MemTotal")).split()[1])
    heap_mib = min(6144, max(2048, mem_kib // 4 // 1024))
    return {"cores": cores, "driver_heap": f"{heap_mib}m", "mem_total_mib": mem_kib // 1024}


def cpu_jiffies() -> tuple[int, int]:
    """(steal, total) jiffies summed over all CPUs, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields)


def job_cpu_s() -> float:
    """CPU seconds used so far by the job's processes: every JVM thread
    except the JIT compilers, the JVM's descendants (the Python workers)
    and this process. The kernel books time stolen by the hypervisor as
    steal, not to a task, so host contention that only takes CPUs away
    does not show here."""
    from pyspark import SparkContext

    jvm = SparkContext._gateway.proc.pid
    hz = os.sysconf("SC_CLK_TCK")

    def stat(path: str) -> tuple[str, list[str]]:
        with open(path) as f:
            raw = f.read()
        return raw[raw.index("(") + 1 : raw.rindex(")")], raw[raw.rindex(")") + 2 :].split()

    ticks = 0
    for tid in os.listdir(f"/proc/{jvm}/task"):
        with contextlib.suppress(OSError, ValueError):
            name, fields = stat(f"/proc/{jvm}/task/{tid}/stat")
            if "CompilerThre" not in name:
                ticks += int(fields[11]) + int(fields[12])
    parent = {}
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            with contextlib.suppress(OSError, ValueError):
                parent[int(pid)] = stat(f"/proc/{pid}/stat")[1]
    family, grew = {jvm}, True
    while grew:
        kids = {p for p, f in parent.items() if int(f[1]) in family} - family
        family |= kids
        grew = bool(kids)
    for pid in family - {jvm}:
        ticks += int(parent[pid][11]) + int(parent[pid][12])
    t = os.times()
    return ticks / hz + t.user + t.system


def pin_process_env() -> None:
    """Keep every file the run writes inside the checkout and let Python
    workers import the package."""
    import tempfile

    os.makedirs(TMP, exist_ok=True)
    os.environ["TMPDIR"] = TMP
    tempfile.tempdir = TMP
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYARROW_IGNORE_TIMEZONE"] = "1"
    for p in (ROOT, HERE):
        if p not in sys.path:
            sys.path.insert(0, p)


def start_session(env: dict, traced: bool):
    from anomalydetector_spark.session import get_spark

    conf = {
        "spark.driver.memory": env["driver_heap"],
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={TMP}",
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        "spark.executorEnv.PYTHONPATH": os.environ["PYTHONPATH"],
    }
    if traced:
        # keep every job/stage of a traced iteration in the status store
        conf["spark.ui.retainedJobs"] = "100000"
        conf["spark.ui.retainedStages"] = "100000"
    return get_spark("perfbench", cores=env["cores"], extra_conf=conf)


def stop_jvm(spark) -> int:
    """Stop the session and the JVM behind it, waiting until it exits.
    Returns the JVM's peak resident set in MiB (0 if unreadable)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    peak = 0
    if proc is not None:
        with contextlib.suppress(OSError, StopIteration):
            with open(f"/proc/{proc.pid}/status") as f:
                peak = int(next(x for x in f if x.startswith("VmHWM")).split()[1]) // 1024
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None
    return peak


# ------------------------------------------------------------------ tracing


class Tracer:
    """Spans kept in memory around calls into the package, with the Spark
    jobs, stages and tasks each span ran (via job groups and the status
    tracker). Disabled, ``span`` only yields."""

    def __init__(self, spark, workload: str):
        self.spark = spark
        self.workload = workload
        self.enabled = False
        self.iteration = -1
        self.spans: list[dict] = []
        self._open: list[dict] = []

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sc = self.spark.sparkContext
        parent = self._open[-1] if self._open else None
        rec = {
            "id": f"{self.workload}/{self.iteration}/{len(self.spans)}",
            "name": name,
            "parent": parent["id"] if parent else None,
            "workload": self.workload,
            "iteration": self.iteration,
        }
        self.spans.append(rec)
        self._open.append(rec)
        sc.setLocalProperty("spark.jobGroup.id", rec["id"])
        rec["start"] = now()
        try:
            yield
        finally:
            rec["end"] = now()
            self._open.pop()
            sc.setLocalProperty("spark.jobGroup.id", parent["id"] if parent else None)

    def iteration_spans(self) -> dict[str, dict]:
        """Spans of the current iteration by name, with self time and
        Spark counts filled in (waits for the listener bus first)."""
        self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        tracker = self.spark.sparkContext.statusTracker()
        mine = [s for s in self.spans if s["iteration"] == self.iteration]
        for s in mine:
            kids = [c for c in mine if c["parent"] == s["id"]]
            s["dur"] = s["end"] - s["start"]
            s["self"] = s["dur"] - sum(c["end"] - c["start"] for c in kids)
            jobs = tracker.getJobIdsForGroup(s["id"])
            stages = tasks = 0
            for j in jobs:
                info = tracker.getJobInfo(j)
                for sid in info.stageIds if info else ():
                    st = tracker.getStageInfo(sid)
                    if st is not None and st.numCompletedTasks > 0:
                        stages += 1
                        tasks += st.numCompletedTasks
            s.update(jobs=len(jobs), stages=stages, tasks=tasks)
        return {s["name"]: s for s in mine}

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


# ---------------------------------------------------------------- workloads


def _bytes_under(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path)
        for f in files
        if not f.startswith((".", "_"))
    )


class Outcome:
    def __init__(self):
        self.job_s = self.verdict_s = self.cpu_s = self.verdict_cpu_s = 0.0
        self.verdicts: list = []
        self.viol_counts: dict = {}
        self.flags: set = set()
        self.n_drift_verdicts = 0
        self.todo: list = []
        self.layer: dict[str, float] = {}


def _drift_outputs(res, out: Outcome, tr: Tracer) -> None:
    from pyspark.sql import functions as F

    from expect import DRIFT_STATS

    with tr.span("engine.drift"):
        rows = (
            res.drift_scored.filter(
                F.col("stat_name").isin(*DRIFT_STATS) & F.col("is_anomaly")
            )
            .select("partition_key", "stat_name", F.unix_seconds("window_start").alias("t"))
            .collect()
        )
        out.n_drift_verdicts = len(res.drift_verdicts.collect())
    out.flags = {(r[0], r[1], int(r[2])) for r in rows}


def _traced_fills(res, out: Outcome, tr: Tracer) -> None:
    """Fill the result's persisted frames one layer at a time, so each
    layer's time and counts are measured where the work happens."""
    cube, profile, series, scored = res.cached[:4]
    with tr.span("fused.cube_fill"):
        out.layer["fused.cube_rows"] = cube.count()
    with tr.span("fused.profile_fill"):
        out.layer["fused.profile_rows"] = profile.count()
    with tr.span("stats.series_fill"):
        out.layer["stats.points"] = series.count()
    with tr.span("drift.score"):
        scored.count()


def _kernel_probe(res, out: Outcome) -> None:
    """Run the SR kernel in the driver over the engine's own stat series
    (after the job's timing ends) — the UDF-overhead baseline."""
    from anomalydetector_spark.kernel.sr import MIN_POINTS, SrParams, sr_detect

    pdf = res.stat_series.toPandas().sort_values("window_start")
    groups = [g for _, g in pdf.groupby(["partition_key", "stat_name"], sort=False)]
    out.layer["stats.series"] = len(groups)
    out.layer["drift.groups"] = len(groups)
    scored = [g for g in groups if len(g) >= MIN_POINTS]
    params = SrParams()
    t0 = now()
    for g in scored:
        sr_detect(g["window_start"].to_numpy(), g["value"].to_numpy(), params)
    out.layer["kernel.sr_s"] = now() - t0
    out.layer["kernel.series"] = len(scored)


@contextlib.contextmanager
def _traced_call(tr: Tracer, module, attr: str, span: str):
    """While tracing, wrap ``module.attr`` so calls made from inside the
    package get their own span."""
    if not tr.enabled:
        yield
        return
    orig = getattr(module, attr)

    def wrapped(*a, **k):
        with tr.span(span):
            return orig(*a, **k)

    setattr(module, attr, wrapped)
    try:
        yield
    finally:
        setattr(module, attr, orig)


class ReadOnly:
    """flagship_global: validate one table; verdicts and drift verdicts
    collected, violations counted per (check, partition) — a sink that
    reads every violation row and keeps only the counts."""

    def __init__(self, spec: dict, wl: dict, expected: dict, work: str):
        self.spec, self.wl, self.exp = spec, wl, expected
        self.rows = spec["rows"]
        self.work = work

    def bind(self, spark) -> None:
        from anomalydetector_spark.engine import ValidationConfig

        d = self.spec["dir"]
        self.pages = spark.read.parquet(os.path.join(d, self.spec["pages"]))
        self.domains = spark.read.parquet(os.path.join(d, self.spec["domains"]))
        self.cfg = ValidationConfig(partition_by=self.wl["partition_by"])

    def reset(self) -> None:
        pass

    def run(self, tr: Tracer) -> Outcome:
        from anomalydetector_spark import manifest as M
        from anomalydetector_spark.engine import run_validation

        out = Outcome()
        c0, t0 = job_cpu_s(), now()
        with tr.span("engine.plan"):
            res = run_validation(self.pages, self.domains, self.cfg)
        if tr.enabled:
            _traced_fills(res, out, tr)
        with tr.span("engine.verdicts"):
            out.verdicts = res.verdicts.collect()
        out.verdict_s, out.verdict_cpu_s = now() - t0, job_cpu_s() - c0
        with tr.span("sink.violations_write"):
            counts = res.violations.groupBy("check_name", "partition_key").count().collect()
        out.viol_counts = {(r[0], r[1]): r[2] for r in counts}
        _drift_outputs(res, out, tr)
        out.job_s, out.cpu_s = now() - t0, job_cpu_s() - c0
        if tr.enabled:
            _kernel_probe(res, out)
            out.layer["sink.violation_rows"] = sum(out.viol_counts.values())
            out.layer["sink.bytes_written"] = 0
            # what a validate run with a checkpoint manifest adds
            with tr.span("manifest.append"):
                M.append_manifest(
                    M.verdicts_to_manifest_rows(res.verdicts, "snap-traced"),
                    os.path.join(self.work, "manifest"),
                )
        res.unpersist()
        return out

    def check(self, out: Outcome) -> list[str]:
        return check_engine_outputs(out, self.exp)


def check_engine_outputs(out: Outcome, exp: dict) -> list[str]:
    """Verdicts, violation counts and drift flags against ``expect.py``."""
    from expect import ROW_CHECKS

    errors = []
    got: dict = {}
    for v in out.verdicts:
        got.setdefault(v["partition_key"], {})[v["check_name"]] = v
    presence = got.get("global", {}).get("column_presence")
    if presence is None or not presence["passed"]:
        errors.append("column_presence missing or failed")
    for pk, want in exp["counts"].items():
        have = got.get(pk, {})
        for check in ROW_CHECKS:
            v = have.get(check)
            if v is None or v["violation_count"] != want[check]:
                errors.append(f"{pk}/{check}: {v and v['violation_count']} != {want[check]}")
            elif v["rows_scanned"] != want["rows"]:
                errors.append(f"{pk}/{check}: rows {v['rows_scanned']} != {want['rows']}")
            if check != "min_row_count" and out.viol_counts.get((check, pk), 0) != want[check]:
                errors.append(f"{pk}/{check}: {out.viol_counts.get((check, pk), 0)} violation rows")
    extra = set(got) - set(exp["counts"]) - {"global"}
    if extra:
        errors.append(f"unexpected partitions {sorted(extra)[:3]}")
    if out.flags != exp["flags"]:
        miss, more = exp["flags"] - out.flags, out.flags - exp["flags"]
        errors.append(f"drift flags: missing {sorted(miss)[:3]}, extra {sorted(more)[:3]}")
    if out.n_drift_verdicts == 0:
        errors.append("no drift verdicts")
    return errors


OLD_ID, NEW_ID = "snap-old", "snap-new"


class Incremental:
    """The steady-state daily job on a domain-partitioned snapshot pair:
    yesterday's digests and manifest are stored; every iteration starts
    from exactly that state (restored outside the timed region)."""

    def __init__(self, spec: dict, expected: dict, old_counts: dict, work: str):
        self.spec, self.exp = spec, expected
        self.old_counts = old_counts
        self.rows = spec["rows"]
        self.work = work
        self.seed_store = os.path.join(work, "seed", "digests")
        self.seed_manifest = os.path.join(work, "seed", "manifest")
        self.store = os.path.join(work, "live", "digests")
        self.manifest = os.path.join(work, "live", "manifest")
        self.out = os.path.join(work, "live", "out")

    def bind(self, spark) -> None:
        from anomalydetector_spark.engine import ValidationConfig
        from anomalydetector_spark.incremental import resolve_compare_cols

        d = self.spec["dir"]
        self.spark = spark
        self.new = spark.read.parquet(os.path.join(d, self.spec["new"]))
        self.domains = spark.read.parquet(os.path.join(d, self.spec["domains"]))
        self.cfg = ValidationConfig(partition_by="domain")
        self.cols = resolve_compare_cols(self.new, "domain", None)

    def seed_state(self, spark) -> None:
        """Yesterday's outputs: the old snapshot's digests (one Spark
        digest pass) and manifest rows (written from the expected
        verdicts). Input preparation, not timed."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        from expect import ROW_CHECKS

        from anomalydetector_spark.incremental import write_partition_digests
        from anomalydetector_spark.operators.snapshot import partition_digests

        shutil.rmtree(os.path.join(self.work, "seed"), ignore_errors=True)
        old = spark.read.parquet(os.path.join(self.spec["dir"], self.spec["old"]))
        write_partition_digests(
            partition_digests(old, "domain", self.cols), self.seed_store,
            OLD_ID, "domain", self.cols,
        )
        rows = []
        for pk, c in sorted(self.old_counts.items()):
            for check in ROW_CHECKS:
                rows.append({
                    "snapshot_id": OLD_ID, "partition_spec": pk,
                    "stats_digest": f"{pk}|{check}|{c[check]}", "check_name": check,
                    "verdict": "pass" if c[check] == 0 else "fail",
                    "metrics": [("violations", float(c[check])),
                                ("rows_scanned", float(c["rows"]))],
                    "completed_at": 0,
                })
        schema = pa.schema([
            ("snapshot_id", pa.string()), ("partition_spec", pa.string()),
            ("stats_digest", pa.string()), ("check_name", pa.string()),
            ("verdict", pa.string()), ("metrics", pa.map_(pa.string(), pa.float64())),
            ("completed_at", pa.timestamp("us", tz="UTC")),
        ])
        os.makedirs(self.seed_manifest)
        pq.write_table(pa.Table.from_pylist(rows, schema),
                       os.path.join(self.seed_manifest, "part-0.parquet"))

    def reset(self) -> None:
        live = os.path.join(self.work, "live")
        shutil.rmtree(live, ignore_errors=True)
        shutil.copytree(self.seed_store, self.store)
        shutil.copytree(self.seed_manifest, self.manifest)

    def run(self, tr: Tracer) -> Outcome:
        from anomalydetector_spark import manifest as M
        from anomalydetector_spark import incremental as I
        from anomalydetector_spark.operators.snapshot import partition_digests

        out = Outcome()
        c0, t0 = job_cpu_s(), now()
        with tr.span("incremental.digest_read"):
            old_digests = I.read_partition_digests(
                self.spark, self.store, OLD_ID, "domain", self.cols
            )
        if tr.enabled:
            with tr.span("snapshot.digest"):
                # same plan as incremental_validate's own digests, so its
                # persist() reuses this cache and the churn span is the join
                partition_digests(self.new, "domain", self.cols).persist().count()
        with tr.span("incremental.churn"), _traced_call(tr, I, "run_validation", "engine.plan"):
            inc = I.incremental_validate(
                None, self.new, "domain", self.domains, self.cfg,
                compare_cols=self.cols, old_digests=old_digests,
            )
        out.todo = inc.todo
        res = inc.result
        if res is not None:
            if tr.enabled:
                _traced_fills(res, out, tr)
            with tr.span("engine.verdicts"):
                out.verdicts = res.verdicts.collect()
            out.verdict_s, out.verdict_cpu_s = now() - t0, job_cpu_s() - c0
            with tr.span("sink.violations_write"):
                res.violations.write.mode("overwrite").partitionBy("check_name").parquet(
                    os.path.join(self.out, "violations")
                )
            _drift_outputs(res, out, tr)
        else:
            out.verdict_s, out.verdict_cpu_s = now() - t0, job_cpu_s() - c0
        with tr.span("manifest.carry_forward"):
            I.carry_forward_manifest(self.spark, self.manifest, OLD_ID, NEW_ID, inc.churn)
        if res is not None:
            with tr.span("manifest.append"):
                M.append_manifest(M.verdicts_to_manifest_rows(res.verdicts, NEW_ID), self.manifest)
        with tr.span("incremental.digest_commit"):
            I.commit_digest_store(
                self.spark, self.store, NEW_ID, inc.new_digests, "domain", self.cols
            )
        out.job_s, out.cpu_s = now() - t0, job_cpu_s() - c0
        if tr.enabled:
            if res is not None:
                _kernel_probe(res, out)
            out.layer["snapshot.digest_rows"] = self.rows
            validated = sum(v["rows_scanned"] for v in out.verdicts
                            if v["check_name"] == "min_row_count")
            out.layer["incremental.todo_partitions"] = len(inc.todo)
            out.layer["incremental.validated_rows_ratio"] = validated / self.rows
            vdir = os.path.join(self.out, "violations")
            out.layer["sink.bytes_written"] = _bytes_under(vdir) if os.path.isdir(vdir) else 0
        inc.unpersist()
        return out

    def check(self, out: Outcome) -> list[str]:
        errors = self._check_files(out)
        if out.todo != self.spec["churned"]:
            errors.append(f"todo {out.todo[:3]} != churned {self.spec['churned'][:3]}")
        if self.spec["churned"]:
            errors += check_engine_outputs(out, self.exp)
        return errors

    def _check_files(self, out: Outcome) -> list[str]:
        """Manifest coverage, sunk violations and committed digests, read
        back with DuckDB; also records the rows written."""
        from expect import ROW_CHECKS, connect

        con = connect(TMP)
        errors = []
        q = con.execute
        new_parts = {r[0] for r in q(
            f"SELECT DISTINCT partition_spec FROM read_parquet('{self.manifest}/*.parquet') "
            f"WHERE snapshot_id = '{NEW_ID}'").fetchall()}
        carried = q(
            f"SELECT count(*) FROM read_parquet('{self.manifest}/*.parquet') "
            f"WHERE snapshot_id = '{NEW_ID}' AND partition_spec NOT IN "
            f"({','.join(repr(p) for p in self.spec['churned'] + ['global'])})").fetchone()[0]
        total_new = q(
            f"SELECT count(*) FROM read_parquet('{self.manifest}/*.parquet') "
            f"WHERE snapshot_id = '{NEW_ID}'").fetchone()[0]
        unchanged = set(self.old_counts) - set(self.spec["churned"])
        if new_parts - {"global"} != set(self.old_counts):
            errors.append(f"manifest covers {len(new_parts)} partitions, want {len(self.old_counts)}")
        if carried != len(ROW_CHECKS) * len(unchanged):
            errors.append(f"carried {carried} manifest rows for {len(unchanged)} partitions")
        out.layer["manifest.rows_written"] = total_new
        vdir = os.path.join(self.out, "violations")
        if os.path.isdir(vdir):
            out.viol_counts = {(c, pk): n for c, pk, n in q(
                f"SELECT check_name, partition_key, count(*) FROM read_parquet("
                f"'{vdir}/*/*.parquet', hive_partitioning = true) GROUP BY 1, 2").fetchall()}
        out.layer["sink.violation_rows"] = sum(out.viol_counts.values())
        stored = q(
            f"SELECT count(*) FROM read_parquet('{self.store}/*/*.parquet', "
            f"hive_partitioning = true) WHERE snapshot_id = '{NEW_ID}'").fetchone()[0]
        if stored != len(self.old_counts):
            errors.append(f"digest store holds {stored} new partitions")
        con.close()
        return errors


# --------------------------------------------------------------------- main


def layer_metrics(spans: dict, out: Outcome) -> dict[str, float]:
    m = dict(out.layer)
    for name, s in spans.items():
        m[f"{name}_s"] = s["self"]
        for k in ("jobs", "stages", "tasks"):
            m[f"{name}.{k}"] = s[k]
    return m


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    pin_process_env()
    import anomalydetector_spark  # fails fast outside a checkout

    if not os.path.abspath(anomalydetector_spark.__file__).startswith(ROOT + os.sep):
        sys.exit(f"anomalydetector_spark imported from outside {ROOT}")

    import expect
    import gen

    with open(os.path.join(HERE, "config.json")) as f:
        config = json.load(f)
    if args.workload not in config["workloads"]:
        ap.error(f"unknown workload {args.workload!r}")
    wl = config["workloads"][args.workload]
    env = host_env()
    traced = bool(args.trace)
    steal0, total0 = cpu_jiffies()

    # ---- inputs and expected outputs (not part of set-up time)
    tp = now()
    spec = gen.materialize(os.path.join(WORK, "inputs"), args.workload, wl, args.seed)
    pin = config["pins"][args.workload]
    if args.seed == pin["seed"] and [spec["rows"], spec["digest"]] != [pin["rows"], pin["digest"]]:
        sys.exit(f"seed {pin['seed']} input is {spec['rows']} rows, digest {spec['digest']}; "
                 f"pinned {pin['rows']}, {pin['digest']}: the workload changed")
    d = spec["dir"]
    dom_path = os.path.join(d, spec["domains"])
    run_dir = os.path.join(WORK, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    if wl.get("snapshots"):
        new_glob = os.path.join(d, spec["new"], "*", "*.parquet")
        exp = expect.expected(new_glob, dom_path, "domain", spec["churned"], TMP)
        old_counts = expect.expected(
            os.path.join(d, spec["old"], "*", "*.parquet"), dom_path, "domain", None, TMP,
            flags=False)["counts"]
        work = Incremental(spec, exp, old_counts, run_dir)
    else:
        exp = expect.expected(os.path.join(d, spec["pages"]), dom_path,
                              wl["partition_by"], None, TMP)
        work = ReadOnly(spec, wl, exp, run_dir)
    prep_s = now() - tp

    attempted = failed = 0
    failures: list[str] = []

    def attempt(tr: Tracer) -> Outcome | None:
        nonlocal attempted, failed
        attempted += 1
        work.reset()
        try:
            out = work.run(tr)
            errs = work.check(out)
        except Exception as e:  # the benchmark must keep running: count it
            errs = [f"{type(e).__name__}: {e}"]
            out = None
        if errs:
            failed += 1
            failures.extend(errs[:3])
            return None
        return out

    # ---- set-up: session start, cold iteration, warm-up
    t0 = now()
    spark = start_session(env, traced)
    try:
        start_s = now() - t0
        work.bind(spark)
        if isinstance(work, Incremental):
            tp = now()
            work.seed_state(spark)
            prep_s += now() - tp
        tracer = Tracer(spark, args.workload)
        warm = []
        for _ in range(1 + config["warmup"][args.workload]):
            out = attempt(tracer)
            warm.append(out.job_s if out else float("nan"))
        # process start to the first measured iteration, less input prep
        setup_s = now() - T_PROCESS - prep_s
        print(f"[perfbench] setup {setup_s:.2f}s (session {start_s:.2f}s, "
              f"iterations {fmt(warm)})", file=sys.stderr)

        # ---- measured closed loop; traced runs alternate traced iterations
        jobs, verdicts, traced_jobs, layers, cpus, vcpus = [], [], [], [], [], []
        t_end = now() + args.seconds
        i = 0
        while i < config["min_measured"][args.workload] or now() < t_end:
            tracer.iteration = i
            tracer.enabled = traced and i % 2 == 1
            out = attempt(tracer)
            if out is not None:
                if tracer.enabled:
                    traced_jobs.append(out.job_s)
                    layers.append(layer_metrics(tracer.iteration_spans(), out))
                else:
                    jobs.append(out.job_s)
                    verdicts.append(out.verdict_s)
                    cpus.append(out.cpu_s)
                    vcpus.append(out.verdict_cpu_s)
            i += 1
        if traced and isinstance(work, ReadOnly):
            # this workload never calls the snapshot/incremental/manifest
            # layers; measure them once on its own pages as the no-churn
            # daily job (nothing changed since the stored digests)
            work = Incremental(
                dict(spec, new=spec["pages"], old=spec["pages"], churned=[]),
                {"counts": {}, "flags": set()},
                expect.expected(os.path.join(d, spec["pages"]), dom_path, "domain",
                                None, TMP, flags=False)["counts"],
                run_dir,
            )
            work.bind(spark)
            work.seed_state(spark)
            tracer.iteration = i
            tracer.enabled = True
            out = attempt(tracer)
            if out is not None:
                layers.append(layer_metrics(tracer.iteration_spans(), out))
        tracer.enabled = False
    finally:
        peak_rss = stop_jvm(spark)
    steal1, total1 = cpu_jiffies()
    host = {
        "host.steal_pct": 100.0 * (steal1 - steal0) / max(1, total1 - total0),
        "host.loadavg_1m": os.getloadavg()[0],
        "jvm.peak_rss_mb": peak_rss,
    }
    tracer.write(os.path.join(WORK, f"trace-{args.workload}-{args.seed}.jsonl"))
    shutil.rmtree(run_dir, ignore_errors=True)

    print(f"[perfbench] {args.workload} seed={args.seed} env={env} "
          f"input rows={spec['rows']} digest={spec['digest']} "
          f"jobs={fmt(jobs)} verdicts={fmt(verdicts)} cpu={fmt(cpus)} vcpu={fmt(vcpus)} traced={fmt(traced_jobs)} {host}", file=sys.stderr)
    for msg in failures[:10]:
        print(f"[perfbench] FAILED: {msg}", file=sys.stderr)

    if not jobs:
        print("[perfbench] no measured iteration succeeded", file=sys.stderr)
        return 1
    med_job = statistics.median(jobs)
    wall = {
        "wall.docs_per_s": (spec["rows"] / med_job, "docs/s"),
        "wall.verdict_s": (statistics.median(verdicts), "s"),
    }
    print(f"[perfbench] {args.workload}: "
          + " ".join(f"{k}={v:.4f} {u}" for k, (v, u) in wall.items())
          + f" ops_failed={failed} ops_total={attempted}", file=sys.stderr)
    if traced:
        names = sorted({k for m in layers for k in m})
        metrics = {
            k: statistics.median(m[k] for m in layers if k in m) for k in names
        }
        metrics["session.start_s"] = start_s
        metrics["drift.kernel_share"] = (
            metrics.get("kernel.sr_s", 0.0) / metrics["drift.score_s"]
            if metrics.get("drift.score_s") else 0.0
        )
        metrics["kernel.series_per_s"] = (
            metrics.get("kernel.series", 0.0) / metrics["kernel.sr_s"]
            if metrics.get("kernel.sr_s") else 0.0
        )
        metrics["trace.overhead_pct"] = (
            100.0 * (statistics.median(traced_jobs) - med_job) / med_job
            if traced_jobs else 0.0
        )
        metrics.update(host)
        metrics.update({k: v for k, (v, _) in wall.items()})
        units = per_layer_units()
        result = {k: {"value": metrics.get(k, 0.0), "unit": u} for k, u in units.items()}
    else:
        # the gated figures count CPU seconds, which host steal does not
        # inflate; the wall-clock ones above are printed on stderr
        result = {
            "docs_per_cpu_s": {"value": spec["rows"] / statistics.median(cpus),
                               "unit": "docs/cpu-s"},
            "verdict_cpu_s": {"value": statistics.median(vcpus), "unit": "cpu-s"},
            "setup_s": {"value": setup_s, "unit": "s"},
        }
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": result}))
    return 0


def fmt(xs) -> str:
    return "[" + " ".join(f"{x:.2f}" for x in xs) + "]"


def per_layer_units() -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}


if __name__ == "__main__":
    sys.exit(main())
