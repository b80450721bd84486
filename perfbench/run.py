"""Benchmark entry point.

    python3 perfbench/run.py --workload sync_mix --seed 1 \\
        --seconds 10 --trace 0

Run from the repository root. Builds one Spark session through
``session.get_spark`` (shipped defaults; console progress off, plus the
UI and its REST API in a traced run), makes the workload's inputs from
``--seed``, runs untimed warm-up ops, then runs timed ops back to back
for ``--seconds`` and checks every op's output. Human-readable lines
go first; the last line of standard output is one JSON object with
the metrics of ``BENCHMARK.json`` (end-to-end with ``--trace 0``,
per-layer with ``--trace 1``). The full run record, with every op's
samples and, when traced, every span, is written under
``perfbench/out/``.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import resource  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from contextlib import nullcontext  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# Every run times at least this many ops, however long they take, so
# that a slow stretch of the host cannot leave a run with one sample.
MIN_OPS = 2
# Spark cores for every run: fixed below the machine's count so this
# process, the JVM's own threads and the Python workers are not
# competing with the tasks for the same cores.
CORES = 2


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def library_present() -> bool:
    return os.path.isfile(
        os.path.join(ROOT, "mydatasyncer_spark", "__init__.py")
    ) and os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))


def prepare_env(work: str) -> int:
    """Keep every file Spark, the JVM and Python write inside ``work``
    and pin the core count. Returns the core count used."""
    nproc = os.cpu_count() or 1
    cores = CORES if nproc > CORES else max(1, nproc - 1)
    for sub in ("spark-local", "tmp"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        [
            "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            f"-Dderby.stream.error.file={os.path.join(work, 'derby.log')}",
        ]
    )
    return cores


def jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._gateway.proc.pid
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def calibrate() -> float:
    """Seconds for a fixed pure-Python loop: a probe of how fast the
    host runs at this moment, recorded next to each op so that a
    slower program can be told from a slower machine."""
    t0 = time.perf_counter()
    acc = 0
    for k in range(2_000_000):
        acc += k * k
    return time.perf_counter() - t0


TICK = os.sysconf("SC_CLK_TCK")


def host_steal_s() -> float:
    """CPU seconds the hypervisor has taken from this VM's CPUs since
    boot (the ``steal`` field of ``/proc/stat``)."""
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    return int(fields[8]) / TICK if len(fields) > 8 else 0.0


def run_op(wl, record: list, tracer=None) -> None:
    """One closed-loop op: untimed prepare, the timed call, the
    untimed check. A raised error or a failed check is recorded as a
    failed op; neither stops the run."""
    wl.prepare()
    entry = {"i": len(record), "traced": tracer is not None, "calib_s": calibrate()}
    if tracer is not None:
        tracer.op_id = entry["i"]
    steal0 = host_steal_s()
    t0 = time.perf_counter()
    try:
        with tracer.span("op") if tracer is not None else nullcontext():
            result = wl.op()
    except Exception:
        entry["wall_s"] = time.perf_counter() - t0
        entry["problems"] = ["raised: " + traceback.format_exc(limit=3)[-600:]]
    else:
        entry["wall_s"] = time.perf_counter() - t0
        entry["steal_s"] = host_steal_s() - steal0
        try:
            entry["problems"], info = wl.check(result)
            entry.update(info)
        except Exception:
            entry["problems"] = ["check raised: " + traceback.format_exc(limit=3)[-600:]]
    if tracer is not None:
        tracer.op_id = None
    record.append(entry)


def median(xs):
    return statistics.median(xs) if xs else 0.0


def per_layer(ops: list[dict], spans: list[dict], bookkeeping: dict,
              session_s: float, jvm_mb: float, overhead_s: float,
              queries: list[str]) -> dict:
    """Per-layer metrics: for each, the median over traced ops of its
    per-op total."""
    by_op: dict[int, list[dict]] = {}
    for s in spans:
        if s["op"] is not None:
            by_op.setdefault(s["op"], []).append(s)
    traced = [o for o in ops if o["traced"] and o["i"] in by_op]

    def per_op(fn):
        return median([fn(by_op[o["i"]], o) for o in traced])

    def dur(name, key="dur_s"):
        return per_op(lambda ss, o: sum(s[key] for s in ss if s["name"] == name))

    def count(names, key):
        return per_op(
            lambda ss, o: sum(s[key] for s in ss if s["name"] in names)
        )

    def info(key):
        return per_op(lambda ss, o: o.get(key, 0))

    # the row path is the sqlite target of sync_mix
    def written(ss, o):
        return sum(o.get(f"incremental.{leg}", 0) for leg in ("inserted", "updated", "deleted"))

    def useful(ss, o):
        w = written(ss, o)
        return o.get("incremental.true_changed_rows", 0) / w if w else 1.0

    mb = 1024.0 * 1024.0
    m = {
        "session.start_s": session_s,
        "readers.read_s": dur("readers.read"),
        "readers.coerce_s": dur("readers.coerce"),
        "readers.jobs": count({"readers.read", "readers.coerce"}, "jobs"),
        "validation.validate_s": dur("validation.validate"),
        "validation.jobs": count({"validation.validate"}, "jobs"),
        "diff.build_s": dur("diff.build"),
        "diff.insert_rows": info("inserted"),
        "diff.update_rows": info("updated"),
        "diff.delete_rows": info("deleted"),
        "applier.read_snapshot_s": dur("applier.read_snapshot"),
        "applier.snapshot_rows": info("incremental.snapshot_rows"),
        "applier.apply_s": dur("applier.apply"),
        "applier.insert_s": dur("applier.insert"),
        "applier.update_s": dur("applier.update"),
        "applier.delete_s": dur("applier.delete"),
        "applier.rows_written": per_op(written),
        "applier.useful_write_ratio": per_op(useful),
        "applier.stage_s": dur("applier.stage"),
        "applier.staged_apply_s": dur("applier.staged_apply"),
        "applier.drop_staged_s": dur("applier.drop_staged"),
        "jdbc.read_snapshot_s": dur("jdbc.read_snapshot"),
        "jdbc.stage_leg_s": dur("jdbc.stage_leg"),
        "jdbc.execute_s": dur("jdbc.execute"),
        "syncer.self_s": dur("syncer.run", "self_s"),
        "syncer.jobs": count({"syncer.run"}, "self_jobs"),
    }
    for q in queries:
        b, e = f"query.{q}.build", f"query.{q}.exec"
        m[f"{b}_s"] = dur(b)
        m[f"{e}_s"] = dur(e)
        m[f"query.{q}.stages"] = count({b, e}, "stages")
        m[f"query.{q}.tasks"] = count({b, e}, "tasks")
        m[f"query.{q}.shuffle_write_mb"] = count({b, e}, "shuffle_write_bytes") / mb
    m.update(
        {
            "spark.jobs": count({"op"}, "jobs"),
            "spark.stages": count({"op"}, "stages"),
            "spark.tasks": count({"op"}, "tasks"),
            "spark.shuffle_write_mb": count({"op"}, "shuffle_write_bytes") / mb,
            "spark.spill_mb": count({"op"}, "spill_bytes") / mb,
            "jvm_peak_rss_mb": jvm_mb,
            "trace.overhead_s": overhead_s,
            "trace.bookkeeping_s": per_op(lambda ss, o: bookkeeping.get(o["i"], 0.0)),
        }
    )
    return m


def top_self_time(spans: list[dict], n_ops: int, k: int = 3) -> list:
    """Span names ranked by self time per traced op."""
    tot: dict[str, float] = {}
    for s in spans:
        if s["op"] is not None and s["name"] != "op":
            tot[s["name"]] = tot.get(s["name"], 0.0) + s["self_s"]
    ranked = sorted(tot.items(), key=lambda kv: -kv[1])[:k]
    return [(name, t / max(n_ops, 1)) for name, t in ranked]


def main(argv=None) -> int:
    args = parse_args(argv)
    if not library_present():
        print(
            f"perfbench: {ROOT} holds no mydatasyncer_spark package and "
            "__spark_entry__.py; run from a checkout of the repository",
            file=sys.stderr,
        )
        return 2
    sys.path[:0] = [ROOT, HERE]
    from workloads import QUERY_LIST, WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    work = os.path.join(HERE, "out", f"{args.workload}-seed{args.seed}-trace{args.trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    cores = prepare_env(work)
    print(f"cores: local[{cores}] (machine has {os.cpu_count()})", flush=True)

    from mydatasyncer_spark.session import get_spark

    conf = {"spark.ui.showConsoleProgress": "false"}
    if args.trace:
        conf.update(
            {
                "spark.ui.enabled": "true",
                "spark.ui.port": "0",
                "spark.ui.retainedJobs": "1000000",
                "spark.ui.retainedStages": "1000000",
            }
        )
    t = time.perf_counter()
    spark = get_spark("perfbench", **conf)
    session_s = time.perf_counter() - t
    spark.sparkContext.setLogLevel("ERROR")
    try:
        phases = {"session_s": session_s}
        wl = WORKLOADS[args.workload]()
        t = time.perf_counter()
        wl.setup(spark, args.seed, work)
        phases["inputs_s"] = time.perf_counter() - t
        warm: list[dict] = []
        t = time.perf_counter()
        setup_problems = wl.oracle_pass() if hasattr(wl, "oracle_pass") else []
        for _ in range(wl.warmups):
            run_op(wl, warm)
        wl.warmed()
        phases["warmup_s"] = time.perf_counter() - t
        setup_s = time.perf_counter() - T0

        def start_tracer():
            from tracing import Tracer

            wl.tracer = Tracer(spark)
            wl.tracer.install(operators=args.workload == "query_mix")
            return wl.tracer

        ops: list[dict] = []
        tracer = None
        loop_start = time.perf_counter()
        while time.perf_counter() - loop_start < args.seconds or len(ops) < MIN_OPS:
            if args.trace and tracer is None and (
                time.perf_counter() - loop_start >= args.seconds / 2
            ):
                tracer = start_tracer()
            run_op(wl, ops, tracer)
        if args.trace and tracer is None:
            # every op so far started in the untraced half
            tracer = start_tracer()
            run_op(wl, ops, tracer)
        spans = []
        if tracer is not None:
            tracer.uninstall()
            spans = tracer.finish()
        jvm_mb = jvm_peak_rss_mb(spark)
    finally:
        jvm = spark.sparkContext._gateway.proc
        spark.stop()
        # the JVM exits when its stdin closes; wait for it (and with it
        # Spark's Python workers) so that no process outlives the run
        jvm.stdin.close()
        try:
            jvm.wait(timeout=60)
        except subprocess.TimeoutExpired:
            jvm.kill()
            jvm.wait()

    driver_mb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
    failed = sum(1 for o in ops if o["problems"])
    op_s = median([o["wall_s"] for o in ops if not o["traced"]]) or median(
        [o["wall_s"] for o in ops]
    )
    unit_name = "pass_s" if args.workload == "query_mix" else "sync_s"
    spurious = [o["spurious_update_rows"] for o in ops if "spurious_update_rows" in o]

    print(
        f"setup_s: {setup_s:.3f} s ("
        + ", ".join(f"{k} {v:.3f}" for k, v in phases.items())
        + ")"
    )
    print(
        f"{unit_name} (op_s): {op_s:.4f} s, median of {len(ops)} ops; samples "
        + " ".join(f"{o['wall_s']:.3f}" for o in ops)
    )
    for part in ("incremental", "churn"):
        walls = [o[f"{part}_s"] for o in ops if f"{part}_s" in o]
        if walls:
            print(f"  {part} part: {median(walls):.4f} s median")
    print(
        f"host steal: {median([o.get('steal_s', 0.0) for o in ops]):.2f} s "
        "per op (CPU time the hypervisor took from this VM)"
    )
    print(f"driver_peak_rss_mb: {driver_mb:.1f} MB")
    print(f"calib_s: {median([o['calib_s'] for o in ops]):.4f} s (host speed probe)")
    print(f"failed_share: {failed}/{len(ops)} = {failed / len(ops):.4f} ratio")
    if spurious:
        print(f"spurious_update_rows: {median(spurious):g} rows (median per op)")
    problems = setup_problems + [p for o in warm + ops for p in o["problems"]]
    print("correctness: " + ("ok" if not problems else f"{len(problems)} problems"))
    for p in problems[:10]:
        print("  " + p.replace("\n", " | "))

    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "cores": cores,
        "setup_s": setup_s,
        "setup_phases": phases,
        "setup_problems": setup_problems,
        "oracle_pass_s": getattr(wl, "oracle_s", {}),
        "warmup_ops": warm,
        "ops": ops,
        "driver_peak_rss_mb": driver_mb,
        "jvm_peak_rss_mb": jvm_mb,
    }
    if args.trace:
        traced = [o["wall_s"] for o in ops if o["traced"]]
        plain = [o["wall_s"] for o in ops if not o["traced"]]
        overhead = median(traced) - median(plain) if plain and traced else 0.0
        metrics = per_layer(
            ops, spans, tracer.bookkeeping, session_s, jvm_mb, overhead, QUERY_LIST
        )
        top = top_self_time(spans, len(traced))
        print(
            f"trace: {len(spans)} spans over {len(traced)} traced ops; "
            f"tracing overhead {overhead:+.4f} s per op "
            f"(traced {median(traced):.4f} vs untraced {median(plain):.4f}; "
            f"tracer bookkeeping {metrics['trace.bookkeeping_s']:.4f} s per op)"
        )
        print("top self time per op: " + ", ".join(f"{n} {t:.3f} s" for n, t in top))
        record.update({"per_layer": metrics, "top_self_time": top, "spans": spans})
        out_metrics = {
            k: {"value": v, "unit": unit} for k, v, unit in _with_units(metrics)
        }
    else:
        out_metrics = {
            "setup_s": {"value": setup_s, "unit": "s"},
            "op_s": {"value": op_s, "unit": "s"},
            "driver_peak_rss_mb": {"value": driver_mb, "unit": "MB"},
        }
    path = os.path.join(work, "record.json")
    with open(path, "w") as fh:
        json.dump(record, fh, indent=1, default=str)
    print(f"run record: {os.path.relpath(path, ROOT)}")
    print(
        json.dumps(
            {
                "correct": failed == 0 and not problems,
                "attempted": len(ops),
                "failed": failed,
                "metrics": out_metrics,
            }
        )
    )
    return 0


def _with_units(metrics: dict):
    for k, v in metrics.items():
        if k.endswith("_s"):
            unit = "s"
        elif k.endswith("_mb"):
            unit = "MB"
        elif k.endswith("_ratio"):
            unit = "ratio"
        elif k.endswith(("_rows", "rows_written")):
            unit = "rows"
        else:
            unit = "count"
        yield k, v, unit


if __name__ == "__main__":
    sys.exit(main())
