"""Repository benchmark: one seeded workload per run.

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 10 --trace 0

Runs from the root of a checkout. Starts the engine's SparkSession
(``local[nproc]``), then sets up several times: builds the inputs from
``--seed`` and has the engine read them (``setup_s`` is the session
start plus the median set-up), runs passes of the workload for
``--seconds``, checks every output against the generator's truth, and
prints one JSON object as the last line of stdout:

    {"correct": true, "attempted": N, "failed": 0, "metrics": {...}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` times an
untraced reference pass and then traced passes, and reports the
per-layer metrics (see ``README.md``). A fuller record of the run (environment,
load, sample counts, workload-specific figures, per-call accounting)
goes to ``.perfbench_out/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback
from dataclasses import dataclass, field

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE = "pdf_using_hugging_face_and_vector_database_spark"
SETUP_REPEATS = 5
DEADLINE_S = 150  # a run must end within 180 s, shutdown included
DRIVER_MEM_MB = 1024


@dataclass
class Ctx:
    spark: object
    run_dir: str
    seed: int
    outcome: object
    aliases: dict = field(default_factory=dict)  # job group renames


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def pin_env(run_dir: str) -> dict:
    """Environment the engine reads, pinned per run and recorded."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        total_mb = int(f.readline().split()[1]) // 1024
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),
        # well below box RAM (the engine's unset default is 90g)
        "SPARK_DRIVER_MEM": f"{min(DRIVER_MEM_MB, total_mb // 4)}m",
        # the Python workers import the engine for mapInPandas kernels
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "PYSPARK_PYTHON": sys.executable,
        # benchmark-owned scratch, out of reach of any shared-scratch reaper
        "SPARK_GRAFT_LOCAL_DIR": os.path.join(run_dir, "local"),
        # persisted-index root: never the repository's .ann_index
        "SPARK_GRAFT_INDEX_DIR": os.path.join(run_dir, "index_root"),
        "TMPDIR": os.path.join(run_dir, "tmp"),
        # every JVM started here (spark-submit's launcher too): no perf
        # data or temp files outside the run directory
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
    }
    for k in ("SPARK_GRAFT_LOCAL_DIR", "SPARK_GRAFT_INDEX_DIR", "TMPDIR"):
        os.makedirs(env[k], exist_ok=True)
    os.environ.update(env)
    return env


def start_spark(run_dir: str, workload: str, evconf: dict | None):
    from pdf_using_hugging_face_and_vector_database_spark.session import get_spark

    local = os.environ["SPARK_GRAFT_LOCAL_DIR"]
    conf = {
        # a fixed heap (initial = max): its pages are touched within the
        # first collections, so peak memory does not swing with when the
        # collector chose to grow the heap
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={local} -Xms{os.environ['SPARK_DRIVER_MEM']}"
        ),
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        **(evconf or {}),
    }
    return get_spark(app_name=f"perfbench-{workload}", extra_conf=conf)


def stop_spark(before_jvm_exit=None) -> None:
    """Stop the context, then the JVM, then wait for every descendant.
    ``before_jvm_exit`` runs between the two (the JVM is still up)."""
    from pyspark import SparkContext

    from perfbench.trace import descendants

    sc = SparkContext._active_spark_context
    if sc is not None:
        sc.stop()
    if before_jvm_exit is not None:
        before_jvm_exit()
    gw = SparkContext._gateway
    kids = descendants(os.getpid())
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.terminate()
            try:
                proc.wait(timeout=20)
            except Exception:  # noqa: BLE001 - escalate below
                proc.kill()
                proc.wait(timeout=10)
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.time() + 20
    for pid in kids:
        while time.time() < deadline and os.path.exists(f"/proc/{pid}"):
            try:
                with open(f"/proc/{pid}/stat") as f:
                    if f.read().rsplit(")", 1)[1].split()[0] == "Z":
                        break  # zombie: exited, awaiting its parent's reap
            except OSError:
                break
            time.sleep(0.05)


def measure(wl, seconds: float, traced_tr, untraced_tr, trace: bool, outcome) -> dict:
    """Warm up, then passes until ``seconds`` have elapsed (at least
    one). A traced run then times warm passes only: it runs one
    untraced pass to warm up and times the next untraced pass as the
    reference for the tracing overhead."""
    wl.tr = untraced_tr
    wl.warm_up()
    passes, ref = [], None
    if trace:
        wl.run_pass(traced=False)
        ref = wl.run_pass(traced=False)
        wl.tr = traced_tr
    t0 = time.perf_counter()
    while not passes or time.perf_counter() - t0 < seconds:
        try:
            passes.append(wl.run_pass(traced=trace))
        except Exception:  # noqa: BLE001 - a failed operation is counted, not fatal
            outcome.item([traceback.format_exc(limit=5)])
            if not passes:
                raise
            break
    return {"passes": passes, "reference": ref}


def end_to_end(start_s, setups, passes, sampler) -> dict:
    from perfbench.metrics import END_TO_END

    ops = [x for p in passes for x in p.ops_ms]
    vals = {
        # a process launches its JVM once, so the session start is one
        # sample; the inputs are set up several times
        "setup_s": start_s + statistics.median(setups),
        "peak_pss_mb": sampler.peak_pss_mb,
        "work_per_s": sum(p.work for p in passes) / sum(p.wall_s for p in passes),
        "op_p50_ms": statistics.median(ops),
    }
    return {k: {"value": vals[k], "unit": END_TO_END[k][0]} for k in END_TO_END}


def per_layer(workload, tr, reader, extras, cpus, start_s, m_passes, bus_ok) -> tuple[dict, dict]:
    """Per-layer metrics from spans and event-log job groups. Times
    and counts are per traced pass, so a function's ``call`` and
    ``exec`` plus ``trace.uncovered_s`` add up to the pass wall."""
    from perfbench.metrics import FUNCTIONS, PER_QUERY, per_layer as names

    units = names()
    vals = {n: 0.0 for n in units}
    vals["session.start_s"] = start_s
    walls = [p.wall_s for p in m_passes["passes"]]
    n_pass = len(walls)
    accounting = {}
    groups = reader.groups if reader else {}
    for name, sps in tr.by_name().items():
        g = groups.get(f"{workload}:{name}", {})
        accounting[name] = {
            "calls": len(sps),
            "call_s": sum(s.call_s for s in sps),
            "exec_s": sum(s.exec_s for s in sps),
            **{k: g.get(k, 0) for k in ("jobs", "tasks", "cpu_s", "run_s", "shuffle_mb", "input_mb", "records_read")},
        }
        if name not in FUNCTIONS:
            continue
        eager = FUNCTIONS[name]
        if not eager:
            vals[f"{name}.call_ms"] = statistics.median(s.call_s for s in sps) * 1e3
        if name in PER_QUERY:
            vals[f"{name}.exec_ms"] = statistics.median(s.exec_s for s in sps) * 1e3
        else:
            vals[f"{name}.exec_s"] = sum(s.total_s if eager else s.exec_s for s in sps) / n_pass
        for q in ("jobs", "tasks", "cpu_s", "shuffle_mb", "input_mb"):
            if f"{name}.{q}" in vals:
                vals[f"{name}.{q}"] = g.get(q, 0) / n_pass
        if f"{name}.rows_scanned_per_result" in vals:
            rows = sum(s.rows for s in sps)
            vals[f"{name}.rows_scanned_per_result"] = g.get("records_read", 0) / rows if rows else 0.0
        if f"{name}.idle_frac" in vals:
            busy = sum(s.total_s for s in sps) * cpus
            vals[f"{name}.idle_frac"] = max(0.0, 1.0 - g.get("run_s", 0.0) / busy) if busy else 0.0
    if reader:
        grp = f"{workload}:dedup.neardup_representatives"
        vals["dedup.neardup_representatives.rounds"] = (
            reader.sql_writes_matching(grp, r"/edges_[12]$") / n_pass
        )
        vals["trace.unlabelled_jobs"] = sum(
            g["jobs"] for k, g in groups.items() if not k.startswith(f"{workload}:")
        )
    for k, v in extras.items():
        vals[k] = statistics.mean(v) if isinstance(v, list) else v
    vals["trace.uncovered_s"] = (sum(walls) - sum(s.total_s for s in tr.spans)) / n_pass
    vals["trace.overhead_s"] = statistics.median(walls) - m_passes["reference"].wall_s
    vals["trace.bus_sync_ok"] = 1.0 if bus_ok else 0.0
    metrics = {k: {"value": vals[k], "unit": units[k]} for k in units}
    return metrics, accounting


def run(args, run_dir: str) -> tuple[dict, dict]:
    env = pin_env(run_dir)
    from perfbench import trace as T
    from perfbench.metrics import percentile, tail_percentile
    from perfbench.workloads import WORKLOADS, Outcome

    if args.workload not in WORKLOADS:
        raise SystemExit(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
    art = {"workload": args.workload, "seed": args.seed, "trace": args.trace, "env": env}
    evdir = os.path.join(run_dir, "eventlog")
    evconf = T.eventlog_conf(evdir) if args.trace else None
    art["eventlog"] = bool(evconf) if args.trace else None
    outcome = Outcome()
    phases = {}  # wall of each phase of the run, for the budget
    last = [time.perf_counter()]

    def mark(name: str) -> None:
        now = time.perf_counter()
        phases[name] = now - last[0]
        last[0] = now

    with T.TreeSampler() as sampler:
        t0 = time.perf_counter()
        spark = start_spark(run_dir, args.workload, evconf)
        start_s = time.perf_counter() - t0
        mark("start")
        traced_tr = T.Tracer(spark, args.workload, labels=bool(args.trace))
        untraced_tr = T.Tracer(spark, args.workload, labels=False)
        ctx = Ctx(spark, run_dir, args.seed, outcome)
        wl = WORKLOADS[args.workload](ctx)

        def label(name: str) -> None:
            if args.trace:
                spark.sparkContext.setJobGroup(traced_tr.group(name), traced_tr.group(name))

        setups = []
        for i in range(SETUP_REPEATS):
            label("bench.setup")
            t = time.perf_counter()
            wl.setup(i)
            setups.append(time.perf_counter() - t)
        mark("setup")
        label("bench.warmup")
        m = measure(wl, args.seconds, traced_tr, untraced_tr, bool(args.trace), outcome)
        mark("measure")
        label("bench.check")
        try:
            wl.check()
        except Exception:  # noqa: BLE001 - a crashing check is a failed check
            outcome.item([traceback.format_exc(limit=3)])
        bus_ok = T.bus_sync(spark) if args.trace else None
        sampler.sample()
        mark("check")
    passes = m["passes"]
    ops = [x for p in passes for x in p.ops_ms]
    tail = tail_percentile(len(ops))
    art.update(
        load_start=sampler.load_start, load_max=sampler.load_max,
        peak_jvm_rss_mb=sampler.peak_jvm_mb, steal_frac=sampler.steal_frac(),
        session_start_s=start_s, setups_s=setups,
        pass_walls_s=[p.wall_s for p in passes], op_samples=len(ops), ops_ms=ops,
        op_p50_ms=statistics.median(ops),
        op_tail={"percentile": tail, "ms": percentile(ops, tail) if tail else None},
        detail={k: statistics.median(v) if isinstance(v, list) else v for k, v in outcome.detail.items()},
        errors=outcome.errors[:20],
        # every pass rebuilds its state from wiped directories; an entry
        # under the persisted-store root would be a warm hit
        store_state={
            "passes_from_wiped_state": len(passes) + 2 * bool(args.trace),
            "persisted_store_hits": len(os.listdir(env["SPARK_GRAFT_INDEX_DIR"])),
        },
    )
    outcome.item(
        [f"persisted store entries found: {art['store_state']}"]
        if art["store_state"]["persisted_store_hits"] else []
    )
    outcome.attempted += sum(len(p.ops_ms) for p in passes)
    if args.trace:
        plain = os.path.join(run_dir, "eventlog_plain")
        stop_spark(lambda: T.decompress_eventlog(evdir, plain) if evconf else None)
        reader = None
        if evconf:
            reader = T.job_group_reader(plain, ctx.aliases)
            art["eventlog_totals"] = reader.drain()
        metrics, accounting = per_layer(
            args.workload, traced_tr, reader, outcome.extras,
            len(os.sched_getaffinity(0)), start_s, m, bus_ok,
        )
        art["accounting"] = accounting
        art["traced_wall_s"] = sum(p.wall_s for p in passes)
        art["reference_pass_wall_s"] = m["reference"].wall_s
        mark("attribution")
    else:
        metrics = end_to_end(start_s, setups, passes, sampler)
    art["phases_s"] = phases
    result = {
        "correct": outcome.failed == 0,
        "attempted": outcome.attempted,
        "failed": outcome.failed,
        "metrics": metrics,
    }
    return result, art


def _deadline(_sig, _frm):
    raise TimeoutError(f"benchmark run exceeded {DEADLINE_S} s")


def main(argv=None) -> int:
    args = parse_args(argv)
    # import the benchmark as a package from the checkout root, so its
    # module names never shadow the standard library's
    sys.path[:] = [ROOT] + [p for p in sys.path if os.path.abspath(p or ".") != HERE]
    if not os.path.isdir(os.path.join(ROOT, ENGINE)):
        print(f"perfbench: engine package {ENGINE!r} not found under {ROOT}", file=sys.stderr)
        return 2
    run_dir = os.path.join(ROOT, ".perfbench_run", f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    signal.signal(signal.SIGALRM, _deadline)
    signal.alarm(DEADLINE_S)
    try:
        result, art = run(args, run_dir)
    finally:
        try:
            stop_spark()
        except Exception:  # noqa: BLE001 - the run's own error matters more
            traceback.print_exc()
        signal.alarm(0)
        shutil.rmtree(run_dir, ignore_errors=True)
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    art["result"] = result
    with open(os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"), "w") as f:
        json.dump(art, f, indent=1, default=str)
    for e in art.get("errors", []):
        print(f"perfbench: check failed: {e}", file=sys.stderr)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
