#!/usr/bin/env python3
"""Closed-loop benchmark of the engine through its public entry points.

    python3 perfbench/run.py --workload registry_queries --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --workload all --seed 1

One process, one client, a ``local[ncpu]`` Spark session. A run sets up
from the cold process (``setup_s``), runs one untimed warmup pass whose
outputs are checked, then timed passes of the workload's ops in
seed-shuffled order until ``--seconds`` of op time have been measured
(whole passes only). The last line of stdout is one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
The line before it summarizes the run for a reader. ``--workload all``
runs every workload, each in a fresh process.

Everything the run writes stays under ``.perfbench/`` at the checkout
root: a per-run scratch directory (``TMPDIR``, the JVM temp dir, Spark
local dirs, the lake repos) removed at exit, and ``out/`` for trace files.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")
QUIET = {"spark.ui.showConsoleProgress": "false"}
sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)

from workloads import DATA_DIR, REGISTRY_WORKLOADS, WORKLOADS  # noqa: E402


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description="Closed-loop benchmark of the engine.")
    ap.add_argument("--workload", required=True, choices=[*WORKLOADS, "all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def isolate(run_dir: str) -> dict[str, str]:
    """Point every temp-file writer of this process tree into ``run_dir``:
    Python's ``tempfile`` (and the queries that use it), the JVM, and
    Spark's local dirs."""
    dirs = {k: os.path.join(run_dir, k) for k in ("tmp", "jvmtmp", "spark-local", "lake")}
    for d in dirs.values():
        os.makedirs(d)
    os.environ["TMPDIR"] = dirs["tmp"]
    os.environ["SPARK_LOCAL_DIRS"] = dirs["spark-local"]
    # no hsperfdata file in /tmp; JVM temp files under the run dir
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={dirs['jvmtmp']}"
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    return dirs


def tail_percentile(xs: list[float]) -> dict | None:
    """The highest-ranked sample with at least ten samples above it."""
    xs = sorted(xs)
    r = len(xs) - 11
    if r < 0:
        return None
    return {"value": xs[r], "percentile": round(100.0 * r / (len(xs) - 1), 1), "samples": len(xs)}


def median_by(records: list[dict], key: str, where=lambda r: True) -> float:
    vals = [r[key] for r in records if where(r) and key in r]
    return statistics.median(vals) if vals else 0


class Run:
    """Set-up, warmup and timed passes shared by every workload."""

    def __init__(self, args, dirs: dict[str, str]):
        self.args = args
        self.dirs = dirs
        self.rng = random.Random(args.seed)
        self.attempted = 0
        self.failed = 0
        self.mismatches: list[str] = []
        self.records: list[dict] = []  # one per timed op
        self.check_s = 0.0  # time spent comparing outputs
        self.spark = None
        self.tracer = None
        if args.trace:
            from tracer import Tracer

            self.tracer = Tracer()

    def span(self, name: str, fn):
        if self.tracer is None:
            return fn()
        with self.tracer.span(name):
            return fn()

    # -- set-up ----------------------------------------------------------------
    def setup(self) -> None:
        """From the start of the process until the first op is ready."""
        from manage_versions_of_data_in_data_lake_using_lakefs_spark.queries import all_queries
        from manage_versions_of_data_in_data_lake_using_lakefs_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = self.span("session.get_spark", lambda: get_spark(app_name="perfbench", extra_conf=QUIET))
        self.session_start_s = time.perf_counter() - t0
        self.spark.sparkContext.setLogLevel("ERROR")
        self.registry = self.span("queries.all_queries", all_queries)
        self.prepare()
        self.setup_s = time.perf_counter() - T_START

    def prepare(self) -> None:
        """Workload-specific set-up once the session exists."""

    def run(self) -> None:
        self.setup()
        t0 = time.perf_counter()
        self.one_pass(0)
        self.warmup_s = time.perf_counter() - t0
        if self.tracer is not None:
            self.tracer.attach(self.spark)
        measured, n = 0.0, 0
        while measured < self.args.seconds:
            n += 1
            before = len(self.records)
            self.one_pass(n)
            measured += sum(r["s"] for r in self.records[before:])
        self.passes = n

    def one_pass(self, n: int) -> None:
        """Pass 0 is the untimed, checked warmup; passes 1.. are timed."""
        raise NotImplementedError

    def mismatch(self, what: str) -> None:
        self.failed += 1
        self.mismatches.append(what[:300])
        print(f"MISMATCH {what[:300]}", file=sys.stderr, flush=True)

    def close(self) -> None:
        """Stop Spark and wait for the JVM to exit."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.spark.stop()
        if gateway is not None:
            gateway.shutdown()
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=60)

    # -- metrics ---------------------------------------------------------------
    def op_seconds(self) -> dict[str, float]:
        """Each op's latency: its median over the timed passes, which a
        slow spell of the shared machine during one pass does not move."""
        by_op: dict[str, list[float]] = {}
        for r in self.records:
            by_op.setdefault(r["op"], []).append(r["s"])
        return {op: statistics.median(v) for op, v in by_op.items()}

    def end_to_end(self) -> dict:
        lat = list(self.op_seconds().values())
        return {
            "ops_per_s": (len(lat) / sum(lat), "ops/s"),
            "op_p50_s": (statistics.median(lat), "s"),
            "setup_s": (self.setup_s, "s"),
        }

    def workload_summary(self) -> dict:
        return {}

    def per_pass_sum(self, n: int) -> float:
        return sum(r["s"] for r in self.records if r["pass"] == n)

    def per_pass(self, key: str, agg=sum) -> float:
        """``agg`` of a per-op counter over each timed pass, median over passes."""
        by_pass: dict[int, list] = {}
        for r in self.records:
            by_pass.setdefault(r["pass"], []).append(r.get(key, 0))
        return statistics.median(agg(v) for v in by_pass.values())

    def per_layer(self) -> dict:
        from tracer import peak_rss_mb

        work = sum(r["s"] for r in self.records)
        best = self.op_seconds()
        m = {k: (0, u) for k, u in LAYER_UNITS.items()}
        m.update({
            "session.start_s": (self.session_start_s, "s"),
            "session.peak_rss_mb": (peak_rss_mb(self.tracer.rss_pids()), "MiB"),
            "failed_frac": (self.failed / max(self.attempted, 1), "ratio"),
            "trace.ops_per_s": (len(best) / sum(best.values()), "ops/s"),
            "trace.overhead_frac": (self.tracer.overhead_s / work, "ratio"),
        })
        for key in SPARK_KEYS:
            m[key] = (self.per_pass(key), LAYER_UNITS[key])
        return m

    def result(self) -> dict:
        metrics = self.per_layer() if self.tracer is not None else self.end_to_end()
        summary = {
            "workload": self.args.workload,
            "seed": self.args.seed,
            "trace": self.args.trace,
            "passes": self.passes,
            "samples": len(self.records),
            "warmup_s": round(self.warmup_s, 3),
            "check_s": round(self.check_s, 3),
            "pass_s": [round(self.per_pass_sum(n), 3) for n in range(1, self.passes + 1)],
            "op_s": {op: round(v, 4) for op, v in sorted(self.op_seconds().items())},
            "setup_s": round(self.setup_s, 3),
            "session_start_s": round(self.session_start_s, 3),
            "op_tail_s": tail_percentile([r["s"] for r in self.records]),
            "failed_frac": self.failed / max(self.attempted, 1),
            **self.workload_summary(),
            "mismatches": self.mismatches,
        }
        if self.tracer is not None:
            stem = os.path.join(STATE, "out", f"{self.args.workload}-seed{self.args.seed}")
            self.tracer.dump(f"{stem}-spans.json")
            with open(f"{stem}-ops.json", "w") as f:
                json.dump(self.records, f, indent=0)
            summary["trace_files"] = [os.path.relpath(f"{stem}-{s}.json", ROOT) for s in ("spans", "ops")]
        print(json.dumps(summary), flush=True)
        return {
            "correct": self.failed == 0,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }


class RegistryRun(Run):
    """A registry workload: queries each built and then run into a
    ``noop`` sink. The warmup pass collects each result instead and
    compares it with the stored DuckDB digest."""

    def __init__(self, args, dirs):
        super().__init__(args, dirs)
        self.ops = REGISTRY_WORKLOADS[args.workload]
        with open(os.path.join(HERE, "digests.json")) as f:
            self.digests = json.load(f)

    def prepare(self) -> None:
        # JVM warm-up: one scan + aggregate over the largest bundled table
        self.spark.read.parquet(f"{DATA_DIR}/lineitem.parquet").groupBy("l_returnflag").count().collect()

    def one_pass(self, n: int) -> None:
        order = list(self.ops)
        self.rng.shuffle(order)
        for name in order:
            self.attempted += 1
            try:
                if n == 0:
                    self.check(name)
                elif self.tracer is not None:
                    self.records.append(self.traced(name, n))
                else:
                    t0 = time.perf_counter()
                    self.registry[name](self.spark, DATA_DIR).write.format("noop").mode("overwrite").save()
                    self.records.append({"op": name, "pass": n, "s": time.perf_counter() - t0})
            except Exception as exc:  # a raising op counts as failed; the run goes on
                self.mismatch(f"{name}: {type(exc).__name__}: {exc}")

    def check(self, name: str) -> None:
        from oracle import digest

        pdf = self.registry[name](self.spark, DATA_DIR).toPandas()
        t0 = time.perf_counter()
        got = digest(pdf)
        self.check_s += time.perf_counter() - t0
        want = self.digests[name]
        if got != want:
            self.mismatch(
                f"{name}: spark {got['rows']} rows {got['sha256'][:12]} "
                f"vs oracle {want['rows']} rows {want['sha256'][:12]}"
            )

    def traced(self, name: str, n: int) -> dict:
        from tracer import tree_bytes

        tr = self.tracer
        tr.op_id = f"{name}#{n}"
        tmp_before = tree_bytes(self.dirs["tmp"])
        tr.group(f"{tr.op_id}:build")
        with tr.span("queries.build") as sb:
            df = self.registry[name](self.spark, DATA_DIR)
        b = tr.group_counters(f"{tr.op_id}:build")
        tr.group(f"{tr.op_id}:exec")
        with tr.span("operators.noop_exec") as se:
            df.write.format("noop").mode("overwrite").save()
        e = tr.group_counters(f"{tr.op_id}:exec")
        rec = {
            "op": name,
            "pass": n,
            "s": (sb["end"] - sb["start"]) + (se["end"] - se["start"]),
            "queries.build_s": sb["end"] - sb["start"],
            "queries.build_jobs": b["jobs"],
            "operators.exec_s": se["end"] - se["start"],
            "queries.tmp_bytes_leaked": tr.timed(tree_bytes, self.dirs["tmp"]) - tmp_before,
            "runtime.cached_bytes": tr.cached_bytes(),
            **spark_counters(b, e),
            **{f"operators.{k}": v for k, v in tr.plan_counts(df).items()},
        }
        return rec

    def per_layer(self) -> dict:
        m = super().per_layer()
        for key in ("queries.build_s", "queries.build_jobs", "queries.tmp_bytes_leaked",
                    "operators.exchanges", "operators.cached_relations"):
            m[key] = (self.per_pass(key), LAYER_UNITS[key])
        m["runtime.cached_bytes"] = (self.per_pass("runtime.cached_bytes", max), "bytes")
        return m


class LakeRun(Run):
    """``lake_session``: the scripted ``LakeSQL`` session of ``lake.py``.
    Each read's result is compared with the DuckDB replay of the same
    statements; the warmup pass also compares both final tables."""

    def prepare(self) -> None:
        from lake import seed_base

        self.base = os.path.join(self.dirs["lake"], "base")
        self.base_versions = seed_base(self.spark, DATA_DIR, self.base, self.span)
        self.user_bytes = sum(os.path.getsize(f"{DATA_DIR}/{t}.parquet") for t in ("lineitem", "orders"))
        self.repo_bytes: list[int] = []

    def run(self) -> None:
        from lake import Replay

        self.replay = Replay(DATA_DIR, os.path.join(self.dirs["tmp"], "duckdb"))
        try:
            super().run()
        finally:
            self.replay.close()

    def one_pass(self, n: int) -> None:
        from manage_versions_of_data_in_data_lake_using_lakefs_spark.versioning import LakeRepo, LakeSQL

        from lake import pass_script
        from tracer import tree_bytes

        work = os.path.join(self.dirs["lake"], f"pass{n}")
        shutil.copytree(self.base, work)
        repo = LakeRepo(work)
        tr = self.tracer
        if n > 0 and tr is not None:
            tr.wrap(repo, "write_table", "LakeRepo")
            tr.wrap(repo, "commit", "LakeRepo")
        sessions = {"main": LakeSQL(self.spark, repo), "dev": LakeSQL(self.spark, repo, branch="dev")}
        orders_version = None
        ran = []
        for i, stmt in enumerate(pass_script(self.rng, self.base_versions["base"])):
            self.attempted += 1
            query = stmt.sql.format(version=orders_version)
            rec = {"op": stmt.op, "kind": stmt.kind, "pass": n, "read": stmt.read}
            try:
                if n > 0 and tr is not None:
                    pdf = self.traced(sessions[stmt.branch], query, repo, rec)
                else:
                    t0 = time.perf_counter()
                    pdf = sessions[stmt.branch].sql(query).toPandas()
                    rec["s"] = time.perf_counter() - t0
            except Exception as exc:  # a raising statement counts as failed; the pass goes on
                self.mismatch(f"pass {n} {stmt.kind}: {type(exc).__name__}: {exc}")
                pdf = None
            version = None
            if pdf is not None and stmt.writes and "version" in pdf.columns:
                version = int(pdf["version"].iloc[0])
                if stmt.writes == "orders":
                    orders_version = version
            ran.append((stmt, version, pdf))
            if n > 0 and "s" in rec:
                self.records.append(rec)
        t0 = time.perf_counter()
        self.check(n, ran, sessions["main"])
        self.check_s += time.perf_counter() - t0
        self.repo_bytes.append(tree_bytes(work))
        shutil.rmtree(work)

    def traced(self, session, query: str, repo, rec: dict):
        from tracer import written

        tr = self.tracer
        tr.op_id = f"{rec['kind']}@{len(self.records)}#{rec['pass']}"
        before = tr.tree(repo.root)
        first_span = len(tr.spans)
        tr.group(tr.op_id)
        with tr.span("LakeSQL.sql", kind=rec["kind"]) as s:
            pdf = session.sql(query).toPandas()
        g = tr.group_counters(tr.op_id)
        w = written(before, tr.tree(repo.root))
        inner = tr.spans[first_span + 1:]
        head = tr.timed(repo.head, "main")
        rec.update({
            "s": s["end"] - s["start"],
            "sql.jobs": g["jobs"],
            "repo.write_table_s": sum(x["end"] - x["start"] for x in inner if x["name"] == "LakeRepo.write_table"),
            "repo.commit_s": sum(x["end"] - x["start"] for x in inner if x["name"] == "LakeRepo.commit"),
            "repo.data_bytes_written": w["data_bytes"],
            "repo.files_added": w["data_files"],
            "repo.files_live": sum(len(files) for files in head.tables.values()),
            "log.meta_bytes_written": w["meta_bytes"],
            "log.meta_files_written": w["meta_files"],
            **spark_counters(g),
        })
        if rec["kind"] == "select_pruned":
            live = tr.timed(live_bytes, repo.root, head.tables["lineitem"])
            rec["stats.read_bytes_ratio"] = g["input_bytes"] / live
        return pdf

    def check(self, n: int, ran: list, session) -> None:
        from lake import FINGERPRINTS
        from oracle import digest

        self.replay.reset(self.base_versions)
        for i, (stmt, version, pdf) in enumerate(ran):
            want = self.replay.apply(stmt, version)
            if want is None or pdf is None:
                continue
            got = pdf[["version"]] if stmt.kind == "history" else pdf
            if digest(got) != digest(want):
                self.mismatch(
                    f"pass {n} #{i} {stmt.kind}: spark {len(got)} rows vs duckdb {len(want)} rows: "
                    f"{got.head(8).to_dict('list')} vs {want.head(8).to_dict('list')}"
                )
        if n == 0:
            t0 = time.perf_counter()
            for t, fingerprint in FINGERPRINTS.items():
                self.attempted += 1
                if digest(session.sql(fingerprint).toPandas()) != digest(self.replay.con.sql(fingerprint).df()):
                    self.mismatch(f"pass {n}: final {t} fingerprint differs from the DuckDB replay")
            self.final_check_s = time.perf_counter() - t0

    def workload_summary(self) -> dict:
        return {
            "final_check_s": round(self.final_check_s, 3),
            "write_p50_s": median_by(self.records, "s", lambda r: not r["read"]),
            "read_p50_s": median_by(self.records, "s", lambda r: r["read"]),
            "bytes_per_user_byte": statistics.median(self.repo_bytes[1:]) / self.user_bytes,
        }

    def per_layer(self) -> dict:
        from lake import KINDS

        m = super().per_layer()
        summary = self.workload_summary()
        for k in ("write_p50_s", "read_p50_s", "bytes_per_user_byte"):
            m[k] = (summary[k], LAYER_UNITS[k])
        for kind in KINDS:
            m[f"sql.{kind}_s"] = (median_by(self.records, "s", lambda r: r["kind"] == kind), "s")
            m[f"sql.{kind}_jobs"] = (median_by(self.records, "sql.jobs", lambda r: r["kind"] == kind), "count")
        for key in ("repo.write_table_s", "repo.commit_s", "repo.data_bytes_written", "repo.files_added",
                    "log.meta_bytes_written", "log.meta_files_written"):
            m[key] = (self.per_pass(key), LAYER_UNITS[key])
        m["repo.files_live"] = (self.per_pass("repo.files_live", lambda v: v[-1]), "count")
        m["stats.read_bytes_ratio"] = (median_by(self.records, "stats.read_bytes_ratio"), "ratio")
        return m


def live_bytes(root: str, entries: list[str]) -> int:
    from tracer import tree_bytes

    total = 0
    for rel in entries:
        p = os.path.join(root, rel)
        total += tree_bytes(p) if os.path.isdir(p) else os.path.getsize(p)
    return total


#: Tracer.group_counters key → per-layer metric
SPARK_COUNTERS = {
    **{k: f"operators.{k}" for k in ("jobs", "stages", "tasks", "executor_cpu_ms", "executor_run_ms",
                                     "gc_ms", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes")},
    "input_bytes": "sources.input_bytes",
    "input_records": "sources.input_records",
}
#: per-op records summed per pass in every workload
SPARK_KEYS = (*SPARK_COUNTERS.values(), "operators.exec_s")


def spark_counters(*groups: dict) -> dict:
    """operators.* / sources.* counters summed over Spark job groups."""
    return {metric: sum(g[key] for g in groups) for key, metric in SPARK_COUNTERS.items()}


def _layer_units() -> dict[str, str]:
    from lake import KINDS

    units = {
        "session.start_s": "s", "session.peak_rss_mb": "MiB",
        "queries.build_s": "s", "queries.build_jobs": "count", "queries.tmp_bytes_leaked": "bytes",
        "operators.exec_s": "s", "operators.jobs": "count", "operators.stages": "count",
        "operators.tasks": "count", "operators.executor_cpu_ms": "ms", "operators.executor_run_ms": "ms",
        "operators.gc_ms": "ms", "operators.shuffle_read_bytes": "bytes",
        "operators.shuffle_write_bytes": "bytes", "operators.spill_bytes": "bytes",
        "operators.exchanges": "count", "operators.cached_relations": "count",
        "sources.input_bytes": "bytes", "sources.input_records": "count",
        "runtime.cached_bytes": "bytes",
    }
    for kind in KINDS:
        units[f"sql.{kind}_s"] = "s"
        units[f"sql.{kind}_jobs"] = "count"
    units.update({
        "repo.write_table_s": "s", "repo.commit_s": "s", "repo.data_bytes_written": "bytes",
        "repo.files_added": "count", "repo.files_live": "count",
        "log.meta_bytes_written": "bytes", "log.meta_files_written": "count",
        "stats.read_bytes_ratio": "ratio",
        "write_p50_s": "s", "read_p50_s": "s", "bytes_per_user_byte": "ratio",
        "failed_frac": "ratio", "trace.ops_per_s": "ops/s", "trace.overhead_frac": "ratio",
    })
    return units


LAYER_UNITS = _layer_units()


def run_all(args) -> int:
    """Every workload in its own fresh process; one combined result line."""
    combined = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for wl in WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", wl, "--seed", str(args.seed),
               "--seconds", str(args.seconds), "--trace", str(args.trace)]
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, cwd=ROOT)
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            print(f"{wl}: exit code {proc.returncode}", file=sys.stderr)
            return 1
        print("\n".join(lines[:-1]))
        res = json.loads(lines[-1])
        for k, v in res["metrics"].items():
            print(f"{wl:>14} {k:<30} {v['value']:>14.6g} {v['unit']}")
            combined["metrics"][f"{wl}.{k}"] = v
        combined["correct"] &= res["correct"]
        combined["attempted"] += res["attempted"]
        combined["failed"] += res["failed"]
    print(json.dumps(combined))
    return 0


def main(argv=None) -> int:
    args = parse_args(argv)
    if args.workload == "all":
        return run_all(args)
    run_dir = os.path.join(STATE, f"run-{os.getpid()}")
    dirs = isolate(run_dir)
    run = None
    try:
        import manage_versions_of_data_in_data_lake_using_lakefs_spark  # noqa: F401  (fail before Spark starts)

        run = (LakeRun if args.workload == "lake_session" else RegistryRun)(args, dirs)
        run.run()
        result = run.result()
    finally:
        if run is not None:
            run.close()
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
