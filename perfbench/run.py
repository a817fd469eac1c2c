"""Repository benchmark: the SCD daily job and an LLM-prep query mix.

Usage, from the repository root:

    python3 perfbench/run.py --workload scd_rebuild --seed 1 --seconds 1 --trace 0

Workloads (closed loop: one client, one process, one op at a time, on
``local[$SPARK_GRAFT_CPUS]`` capped at the machine's core count):

- ``scd_rebuild``: the paper's daily batch job. A seeded roster arrives
  as daily CSV drops; each day calls ``employee_dim.run``, which re-reads
  the whole history (window pipeline, validation, partitioned staged
  writes). One op is one daily call; one pass is every day from an
  empty output directory.
- ``scd_merge``: the same layers used incrementally. Each day reads the
  day's drop and calls ``employee_dim.run_incremental`` (a full-outer
  join against the current view, no validation, no history windows).
- ``query_mix``: read-only registry queries over a seeded rewrite of the
  sf-tier test tables, each consumed through a noop sink. One op is one
  builder call plus its consumer; one pass is every query once.

A run sets up three times (session start, input generation, oracle
answers) and keeps the median; ``setup_s`` is that median plus the
warm-up (the query mix's first, oracle-checked pass; the SCD job's
first days). It then runs passes, at least one, until ``--seconds``
have elapsed. Every pass of the SCD workloads is checked against its
DuckDB oracle; the query mix is checked in the warm-up and in one
untimed pass after the timed ones. Failed ops are exceptions plus ops
whose output did not match.

With ``--trace 0`` the last stdout line carries the end-to-end metrics;
with ``--trace 1`` it carries the per-layer metrics, taken from spans
around each layer's public functions, and the spans are written to
``.perfbench_work/trace-<workload>-<seed>.json``. A traced run
alternates untraced and traced passes so that it can report its own
tracing overhead. Machine-health context (CPU calibration and steal
ticks, as ``bench.py`` records them) goes into the record line printed
just before the last line.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")

SETUP_REPS = 3
# The Spark JVM's heap is fixed and touched up front: how much of a growing
# heap the JVM has touched depends on GC timing, which made peak memory
# differ by half from run to run. Heap retention shows in the per-layer
# pinned-block metrics instead.
JVM_HEAP = "2g"

# Input sizes. Fixed per workload: the seed changes content, never size.
REBUILD_EMPLOYEES, REBUILD_DAYS = 1_000, 5
MERGE_EMPLOYEES, MERGE_DAYS = 10_000, 5
MIX_TABLES = {"n_docs": 500, "n_vecs": 500, "n_orders": 5_000, "n_supp": 100}
MIX_QUERIES = [
    "text_repetition_gopher",
    "dedup_cc_clusters",
    "embedding_neardup_pairs_ivf_auto",
]

END_TO_END_UNITS = {
    "setup_s": "s",
    "wall_s": "s",
    "op_p50_s": "s",
    "op_p95_s": "s",
    "peak_rss_mb": "MB",
    "stored_bytes_per_input_byte": "ratio",
}


def _dir_stats(path: str) -> tuple[int, int]:
    """(bytes, files) of every file under ``path``."""
    size = files = 0
    for dp, _, fs in os.walk(path):
        for f in fs:
            size += os.path.getsize(os.path.join(dp, f))
            files += 1
    return size, files


def _fresh(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def _p(values: list[float], q: float) -> float:
    """Nearest-rank percentile."""
    s = sorted(values)
    return s[max(0, math.ceil(q * len(s)) - 1)]


class Op:
    """One unit of client work: untimed ``prepare``, timed ``call``."""

    def __init__(self, label, call, prepare=None):
        self.label, self.call, self.prepare = label, call, prepare


class ScdRebuild:
    name = "scd_rebuild"
    warm_ops = 1  # untimed warm-up ops: the cold JVM's first daily job

    def __init__(self, spark, con, work, seed):
        self.spark, self.con, self.work, self.seed = spark, con, work, seed

    def generate(self) -> None:
        from employees import generate, rebuild_oracle

        self.drops = generate(
            _fresh(os.path.join(self.work, "drops")),
            REBUILD_EMPLOYEES, REBUILD_DAYS, self.seed,
        )
        rebuild_oracle(self.con, self.drops)

    def begin_pass(self) -> None:
        self.base = _fresh(os.path.join(self.work, "base"))
        os.makedirs(os.path.join(self.base, "input"))

    def ops(self) -> list[Op]:
        from pyspark_scd_spark.jobs import employee_dim

        def arrive(day):
            for name in self.drops.arrivals(day):
                shutil.copy(self.drops.path(name),
                            os.path.join(self.base, "input", name))

        return [
            Op(f"day{d}", lambda: employee_dim.run(self.spark, self.base),
               prepare=lambda d=d: arrive(d))
            for d in range(len(self.drops.days))
        ]

    def check(self) -> int:
        from employees import mismatches

        out = os.path.join(self.base, "output")
        return mismatches(self.con, "exp_all", f"{out}/employee_all") + mismatches(
            self.con, "exp_current", f"{out}/employee_current")

    def stored(self) -> tuple[int, int, int]:
        """(output bytes, output files, CSV bytes ingested) of a pass."""
        size, files = _dir_stats(os.path.join(self.base, "output"))
        return size, files, self.drops.csv_bytes


class ScdMerge(ScdRebuild):
    name = "scd_merge"
    warm_ops = 2  # the bootstrap day and one merge day

    def generate(self) -> None:
        from employees import generate, merge_oracle

        self.drops = generate(
            _fresh(os.path.join(self.work, "drops")),
            MERGE_EMPLOYEES, MERGE_DAYS, self.seed,
        )
        merge_oracle(self.con, self.drops)

    def begin_pass(self) -> None:
        self.current = os.path.join(_fresh(os.path.join(self.work, "base")), "current")

    def ops(self) -> list[Op]:
        from pyspark_scd_spark.jobs import employee_dim
        from pyspark_scd_spark.profiles import EMP_SNAPSHOT_SCHEMA
        from pyspark_scd_spark.sources import readers

        def apply(day):
            snap, _ = readers.read_csv_snapshots(
                self.spark, self.drops.path(day), EMP_SNAPSHOT_SCHEMA)
            employee_dim.run_incremental(self.spark, snap, self.current)

        # one drop per day in date order; the re-dropped file is a
        # rebuild-only pattern (run_incremental does not dedup its input)
        return [Op(f"day{d}", lambda day=day: apply(day))
                for d, day in enumerate(self.drops.days)]

    def check(self) -> int:
        from employees import mismatches

        return mismatches(self.con, "exp_merged", self.current)

    def stored(self) -> tuple[int, int, int]:
        size, files = _dir_stats(self.current)
        csv = sum(os.path.getsize(self.drops.path(d)) for d in self.drops.days)
        return size, files, csv


class QueryMix:
    name = "query_mix"

    def __init__(self, spark, con, work, seed):
        self.spark, self.con, self.work, self.seed = spark, con, work, seed
        from pyspark_scd_spark.registry import REGISTRY

        self.entries = {q: REGISTRY[q] for q in MIX_QUERIES}
        self.tracer = None

    def generate(self) -> None:
        import tables

        self.data = _fresh(os.path.join(self.work, "tables"))
        self.parquet_bytes = tables.generate(self.data, self.seed, **MIX_TABLES)
        # at-rest footprint of the input against the same rows as CSV
        self.csv_bytes = 0
        csv = os.path.join(self.work, "sizing.csv")
        for t in tables.TABLES:
            self.con.execute(
                f"CREATE OR REPLACE VIEW {t} AS "
                f"SELECT * FROM '{self.data}/{t}.parquet/*.parquet'")
            self.con.execute(f"COPY {t} TO '{csv}' (HEADER)")
            self.csv_bytes += os.path.getsize(csv)
        os.remove(csv)
        from check_oracle import _canon

        self.expected = {}
        for q, entry in self.entries.items():
            rel = self.con.sql(entry.oracle)
            self.expected[q] = _canon(list(rel.columns), rel.fetchall())

    def begin_pass(self) -> None:
        pass

    def check(self) -> int:
        return 0  # checked by whole untimed passes (check_queries)

    def ops(self) -> list[Op]:
        return [Op(q, lambda q=q: self.run_query(q)) for q in self.entries]

    def run_query(self, q: str) -> None:
        tr = self.tracer
        with tr.span(f"registry.{q}.build"):
            df = self.entries[q].builder(self.spark, self.data)
        if tr.enabled:
            with tr.span(f"registry.{q}.plan") as rec:
                qe = df._jdf.queryExecution()
                qe.executedPlan()
                phases = qe.tracker().phases()
                it = phases.values().iterator()
                ms = 0
                while it.hasNext():
                    ms += it.next().durationMs()
                rec["catalyst_s"] = ms / 1e3
        with tr.span(f"registry.{q}.exec"):
            df.write.format("noop").mode("overwrite").save()

    def check_queries(self) -> tuple[int, int]:
        """Untimed oracle pass: (queries run, queries that failed)."""
        from check_oracle import _canon

        failed = 0
        for q, entry in self.entries.items():
            try:
                df = entry.builder(self.spark, self.data)
                got = _canon(df.columns, [tuple(r) for r in df.collect()])
            except Exception as e:  # a failed query is reported, not fatal
                print(f"perfbench: {q} raised {type(e).__name__}: {e}", file=sys.stderr)
                failed += 1
                continue
            if got != self.expected[q]:
                print(f"perfbench: {q} does not match its oracle", file=sys.stderr)
                failed += 1
        return len(self.entries), failed

    def stored(self) -> tuple[int, int, int]:
        return self.parquet_bytes, 0, self.csv_bytes


WORKLOADS = {w.name: w for w in (ScdRebuild, ScdMerge, QueryMix)}

# (module, attribute, span name): each layer's public functions, wrapped
# where the caller looks them up (employee_dim imported some by name)
WRAPS = (
    ("pyspark_scd_spark.jobs.employee_dim", "run", "jobs.run"),
    ("pyspark_scd_spark.jobs.employee_dim", "run_incremental", "jobs.run_incremental"),
    ("pyspark_scd_spark.jobs.employee_dim", "read_csv_snapshots",
     "sources.read_csv_snapshots"),
    ("pyspark_scd_spark.sources.readers", "read_csv_snapshots",
     "sources.read_csv_snapshots"),
    ("pyspark_scd_spark.jobs.employee_dim", "write_staged", "sources.write_staged"),
    ("pyspark_scd_spark.jobs.employee_dim", "archive_files", "sources.archive_files"),
    ("pyspark_scd_spark.jobs.employee_dim", "validate", "quality.validate"),
    ("pyspark_scd_spark.operators.scd", "scd_apply", "scd.scd_apply"),
    ("pyspark_scd_spark.operators.scd", "current_view", "scd.current_view"),
    ("pyspark_scd_spark.operators.scd", "scd_merge", "scd.scd_merge"),
)
SPARK_UNITS = {"jobs": "count", "stages": "count", "tasks": "count",
               "executor_run_s": "s", "executor_cpu_s": "s", "gc_s": "s",
               "shuffle_write_mb": "MB", "spill_mb": "MB"}


def _pins(spark) -> tuple[int, float]:
    """(persistent RDDs, MB they hold): read only, nothing released."""
    jsc = spark.sparkContext._jsc
    blocks = jsc.getPersistentRDDs().size()
    held = sum(r.memSize() + r.diskSize() for r in jsc.sc().getRDDStorageInfo())
    return blocks, held / (1024.0 * 1024.0)


def _run_pass(wl, ops, spark, tracer, sampler, check=True) -> dict:
    """One pass over ``ops``, timed per op; checked and pins read after."""
    wl.begin_pass()
    lat, op_pins, bad = [], [], 0
    sampler.start()
    with tracer.span("pass") as prec:
        t0 = time.time()
        for op in ops:
            if op.prepare:
                op.prepare()
            with tracer.span("op", label=op.label) as orec:
                ts = time.time()
                try:
                    op.call()
                except Exception as e:  # count it and keep serving
                    print(f"perfbench: {op.label} raised {type(e).__name__}: {e}",
                          file=sys.stderr)
                    bad += 1
                lat.append(time.time() - ts)
            op_pins.append(_pins(spark))
            if orec is not None:
                orec["pinned_blocks"], orec["pinned_mb"] = op_pins[-1]
        wall = time.time() - t0
    peak = sampler.stop()
    if check and not bad and wl.check():
        print(f"perfbench: {wl.name} output does not match its oracle", file=sys.stderr)
        bad = len(ops)
    pins = _pins(spark)
    if prec is not None:
        prec["pinned_blocks"], prec["pinned_mb"] = pins
    return {"wall": wall, "ops": lat, "failed": bad, "peak_mb": peak, "pins": pins,
            "op_pins": op_pins,
            "stored": wl.stored() if check else None, "traced": prec is not None,
            "span": prec["id"] if prec else None}


def _stop(spark, sampler) -> None:
    """Stop Spark, its JVM and the JVM's children; wait for each."""
    children = sampler.descendants()
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)
    deadline = time.time() + 30
    for pid in children:
        while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
            time.sleep(0.05)


def _layer_metrics(tracer, passes, get_spark_s) -> tuple[dict, dict]:
    """Per-layer metrics (median over traced passes of per-pass totals)
    and the self time of every span name, summed over traced passes."""
    from spans import clean_self_times

    spans = tracer.spans
    selft = clean_self_times(spans)
    by_pass: dict[int, list[dict]] = {}
    for s in spans:
        root = s
        while root["parent"] is not None:
            root = spans[root["parent"]]
        by_pass.setdefault(root["id"], []).append(s)
    traced = [p for p in passes if p["traced"]]
    plain = [p for p in passes if not p["traced"]]

    def med(fn) -> float:
        return statistics.median(fn(p, by_pass[p["span"]]) for p in traced)

    def total(name: str, key: str):
        return lambda p, ss: sum(
            s["end"] - s["start"] if key == "s" else s[key]
            for s in ss if s["name"] == name)

    m: dict[str, tuple[float, str]] = {}
    for name in sorted({w[2] for w in WRAPS}):
        m[f"{name}_s"] = (med(total(name, "s")), "s")
    for name, metric in (("jobs.run", "jobs.run_spark_jobs"),
                         ("jobs.run_incremental", "jobs.run_incremental_spark_jobs"),
                         ("quality.validate", "quality.validate_jobs"),
                         ("sources.write_staged", "sources.write_staged_jobs")):
        m[metric] = (med(total(name, "jobs")), "count")
    m["sources.output_mb"] = (med(total("sources.write_staged", "output_mb")), "MB")
    m["sources.output_files"] = (med(lambda p, ss: p["stored"][1]), "count")
    for part, key, unit in (("build", "s", "s"), ("build", "jobs", "count"),
                            ("exec", "s", "s")):
        suffix = f"{part}_{key}"
        per_query = {q: med(total(f"registry.{q}.{part}", key)) for q in MIX_QUERIES}
        m[f"registry.{suffix}"] = (sum(per_query.values()), unit)
        for q, v in per_query.items():
            m[f"registry.{q}.{suffix}"] = (v, unit)
    m["registry.plan_s"] = (med(lambda p, ss: sum(s.get("catalyst_s", 0.0) for s in ss)), "s")
    m["registry.pinned_blocks"] = (med(lambda p, ss: p["pins"][0]), "count")
    m["registry.pinned_mb"] = (med(lambda p, ss: p["pins"][1]), "MB")
    m["session.get_spark_s"] = (statistics.median(get_spark_s), "s")
    for k, unit in SPARK_UNITS.items():
        m[f"spark.{k}"] = (med(lambda p, ss, k=k: spans[p["span"]][k]), unit)
    m["trace.overhead_s"] = (statistics.median(p["wall"] for p in traced)
                             - statistics.median(p["wall"] for p in plain), "s")
    m["trace.read_s"] = (med(lambda p, ss: sum(
        s["trace_read_s"] for s in ss if s["parent"] is not None)), "s")
    m["trace.unattributed_s"] = (med(lambda p, ss: sum(
        selft[s["id"]] for s in ss if s["name"] in ("pass", "op"))), "s")

    account: dict[str, float] = {}
    for p in traced:
        for s in by_pass[p["span"]]:
            name = s["name"]
            if name.startswith("registry."):
                name = "registry." + name.rsplit(".", 1)[1]
            account[name] = account.get(name, 0.0) + selft[s["id"]]
    return m, account


def run(args, work: str) -> tuple[dict, dict]:
    import duckdb

    import bench
    from pyspark_scd_spark import session
    from spans import RssSampler, Tracer

    ncpu = len(os.sched_getaffinity(0))
    want = int(os.environ.get("SPARK_GRAFT_CPUS") or ncpu)
    os.environ["SPARK_GRAFT_CPUS"] = str(max(1, min(want, ncpu)))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = JVM_HEAP
    conf = {
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData "
            f"-Xms{JVM_HEAP} -XX:+AlwaysPreTouch",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    tracer = Tracer(f"{args.workload}-{args.seed}-{os.getpid()}")
    con = duckdb.connect()
    record = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
              "trace": args.trace, "cpus": int(os.environ["SPARK_GRAFT_CPUS"])}

    # -- set up several times; keep the median --------------------------
    spark, reps, get_spark_s = None, [], []
    for _ in range(SETUP_REPS):
        if spark is not None:
            spark.stop()
        t0 = time.time()
        spark = session.get_spark(app_name="perfbench", extra_conf=conf)
        get_spark_s.append(time.time() - t0)
        wl = WORKLOADS[args.workload](spark, con, work, args.seed)
        wl.generate()
        reps.append(time.time() - t0)
    tracer.bind(spark)
    wl.tracer = tracer
    sampler = RssSampler(spark.sparkContext._gateway.proc.pid)

    # -- warm-up: the mix's oracle pass, or the SCD job's first days -----
    t0 = time.time()
    if isinstance(wl, QueryMix):
        attempted, failed = wl.check_queries()
    else:
        # a partial pass; every timed pass is checked against the oracle
        warm = _run_pass(wl, wl.ops()[:wl.warm_ops], spark, tracer, sampler,
                         check=False)
        attempted, failed = len(warm["ops"]), warm["failed"]
    warmup_s = time.time() - t0
    bench._release(spark)
    health = {"cal_1t_sec": bench._cpu_calibration(),
              "cal_nt_sec": bench._cpu_calibration_parallel()}

    if args.trace:
        import importlib

        for module, attr, name in WRAPS:
            tracer.wrap(importlib.import_module(module), attr, name)
    ops = wl.ops()

    # -- timed passes; a traced run alternates plain and traced passes ----
    passes = []
    steal0 = bench._steal_ticks()
    t_timed = time.time()
    while True:
        tracer.enabled = bool(args.trace) and len(passes) % 2 == 1
        passes.append(_run_pass(wl, ops, spark, tracer, sampler))
        tracer.enabled = False
        attempted += len(ops)
        failed += passes[-1]["failed"]
        bench._release(spark)
        if time.time() - t_timed >= args.seconds and len(passes) >= 1 + args.trace:
            break
    timed_s = time.time() - t_timed
    steal = bench._steal_ticks() - steal0
    health["cal_nt_post_sec"] = bench._cpu_calibration_parallel()
    health["steal_pct"] = 100.0 * steal / bench._clk_tck() / (timed_s * ncpu)

    if isinstance(wl, QueryMix):  # untimed re-check after the timed passes
        n, bad = wl.check_queries()
        attempted, failed = attempted + n, failed + bad
    tracer.unwrap_all()
    _stop(spark, sampler)
    con.close()

    plain = [p for p in passes if not p["traced"]]
    lat = [x for p in plain for x in p["ops"]]
    size, files, csv = (statistics.median(v) for v in zip(*(p["stored"] for p in plain)))
    record.update({
        "health": health,
        "attempted": attempted, "failed": failed, "failed_ops_frac": failed / attempted,
        "op_samples": len(lat), "plain_passes": len(plain),
        "setup_reps_s": reps, "get_spark_s": get_spark_s, "warmup_s": warmup_s,
        "pass_walls_s": [p["wall"] for p in passes],
        "pass_pins": [p["pins"] for p in passes],
        "op_pins": [p["op_pins"] for p in passes],
        "output_files": files,
    })
    result = {"correct": failed == 0, "attempted": attempted, "failed": failed}
    if not args.trace:
        metrics = {
            "setup_s": statistics.median(reps) + warmup_s,
            "wall_s": statistics.median(p["wall"] for p in plain),
            "op_p50_s": _p(lat, 0.5),
            "op_p95_s": _p(lat, 0.95),
            "peak_rss_mb": statistics.median(p["peak_mb"] for p in plain),
            "stored_bytes_per_input_byte": size / csv,
        }
        result["metrics"] = {k: {"value": v, "unit": END_TO_END_UNITS[k]}
                             for k, v in metrics.items()}
        return record, result

    layer, account = _layer_metrics(tracer, passes, get_spark_s)
    record["self_time_s"] = account
    record["traced_wall_s"] = sum(p["wall"] for p in passes if p["traced"])
    with open(os.path.join(WORK, f"trace-{args.workload}-{args.seed}.json"), "w") as f:
        json.dump({"record": record, "spans": tracer.spans}, f)
    result["metrics"] = {k: {"value": v, "unit": u} for k, (v, u) in layer.items()}
    return record, result


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    sys.path[1:1] = [ROOT, os.path.join(ROOT, "tools")]
    try:
        import pyspark_scd_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the program is not importable from {ROOT}: {e}",
              file=sys.stderr)
        return 2
    # every file the run, Spark and its JVM write stays under WORK
    work = _fresh(os.path.join(WORK, f"{args.workload}-{args.seed}"))
    os.environ["TMPDIR"] = _fresh(os.path.join(work, "tmp"))
    os.environ["SPARK_LOCAL_DIRS"] = _fresh(os.path.join(work, "spark-local"))
    tempfile.tempdir = None
    try:
        record, result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"record": record}))
    for k, m in result["metrics"].items():
        n = f" (n={record['op_samples']} ops)" if k.startswith("op_") else ""
        print(f"perfbench {args.workload} {k} {m['value']:.6g} {m['unit']}{n}")
    print(f"perfbench {args.workload} failed_ops_frac {record['failed_ops_frac']:.6g} "
          f"({result['failed']}/{result['attempted']} ops)")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
