"""Benchmark harness: one closed-loop, single-client workload per run.

    python3 perfbench/run.py --workload export|iterative \\
        --seed N --seconds S --trace 0|1

Run it from the repository root. It generates the workload's inputs from
``--seed`` (cached under ``.perfbench/``), starts one Spark session pinned
to ``min(4, nproc)`` task threads, sets up (session start, two warmup
passes at the workload's own input size), then runs whole rounds of ops
in seeded order until ``--seconds`` have passed, and checks every output.
The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics of ``BENCHMARK.json``
with ``--trace 0``, its per-layer metrics with ``--trace 1``). A traced
run times its first half of rounds untraced, so it also reports the
tracing overhead. See ``perfbench/README.md`` for every metric.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".perfbench")
WORKLOADS = ("export", "iterative")
#: every end-to-end metric the report prints; BENCHMARK.json gates a subset
E2E_UNITS = {
    "setup_s": "s", "wall_s": "s", "op_p50_s": "s", "op_tail_s": "s",
    "peak_rss_mb": "MB", "fail_ratio": "1", "docs_per_s": "1/s", "bytes_out_per_doc": "B",
}
#: ops that must lie beyond the reported tail percentile
TAIL_BEYOND = 10
#: data sets kept per input kind; older seeds are regenerated when asked for
KEEP_INPUTS = 3


def host_cores() -> int:
    return min(4, len(os.sched_getaffinity(0)))


def pin_host(run_dir: str, cores: int) -> None:
    """Everything the session reads from the environment, set explicitly:
    cores (``local[N]`` and N shuffle partitions), driver heap, scratch
    space inside the run directory, UTC wall clock."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "3g"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    os.environ["TMPDIR"] = tmp
    os.environ["TZ"] = "UTC"
    time.tzset()


def cpu_ticks() -> tuple[int, int]:
    """(total, steal) jiffies from the first line of /proc/stat."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:]]
    return sum(f[:8]), f[7] if len(f) > 7 else 0


# ------------------------------------------------------------------ inputs


def ensure_inputs(kind: str, seed: int, shards: int) -> tuple[str, dict]:
    """Generated input set (``tables`` or ``dump``) for ``seed``,
    cached by seed and generator source; returns (dir, manifest)."""
    import hashlib

    import gen

    with open(os.path.join(HERE, "gen.py"), "rb") as fh:
        tag = hashlib.sha256(fh.read()).hexdigest()[:10]
    base = os.path.join(WORK, "inputs")
    d = os.path.join(base, f"{kind}-s{seed}-x{shards}-{tag}")
    done = os.path.join(d, "MANIFEST.json")
    if not os.path.exists(done):
        shutil.rmtree(d, ignore_errors=True)
        if kind == "dump":
            manifest = gen.make_dump(d, seed, shards)
        else:
            manifest = {"rows": gen.write_tables(d, seed, shards)}
        with open(done + ".tmp", "w") as fh:
            json.dump(manifest, fh)
        os.replace(done + ".tmp", done)
        old = sorted(
            (os.path.join(base, n) for n in os.listdir(base) if n.startswith(kind + "-")),
            key=os.path.getmtime,
        )
        for stale in old[:-KEEP_INPUTS]:
            shutil.rmtree(stale, ignore_errors=True)
    os.utime(d)
    with open(done) as fh:
        return d, json.load(fh)


# ---------------------------------------------------------------- stats


def tail(lats: list[float]) -> tuple[float, float]:
    """(value, percentile) of the highest percentile with at least
    ``TAIL_BEYOND`` ops beyond it. Below ``2 * TAIL_BEYOND`` ops that
    percentile would sit under the median, so the maximum is reported."""
    s = sorted(lats)
    n = len(s)
    if not s:  # every op failed; the result still reports them
        return 0.0, 100.0
    if n < 2 * TAIL_BEYOND:
        return s[-1], 100.0
    return s[n - 1 - TAIL_BEYOND], 100.0 * (n - TAIL_BEYOND) / n


def mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


# ------------------------------------------------------------------- run


def run(args) -> dict:
    # the program first: without it (or its tools/) fail before writing anything
    sys.path.insert(0, ROOT)
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    import gen
    import workloads as W
    from spans import SparkProbe, Tracer

    from mongo_to_parquet_spark import get_spark

    cores = host_cores()
    run_dir = os.path.join(WORK, "runs", f"{args.workload}-s{args.seed}-p{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    spark = wl = None
    try:
        pin_host(run_dir, cores)

        t = time.perf_counter()
        if args.workload == "export":
            data, manifest = ensure_inputs("dump", args.seed, cores)
            sizes = manifest["docs"]
        else:
            data, manifest = ensure_inputs("tables", args.seed, cores)
            sizes = manifest["rows"]
        gen_s = time.perf_counter() - t

        rng = random.Random(args.seed)
        tracer = Tracer(bool(args.trace))
        if args.workload == "export":
            wl = W.ExportWorkload(data, manifest, run_dir, gen.RANGE)
        else:
            wl = W.QueryWorkload(data, os.path.join(WORK, "oracle", os.path.basename(data)))

        def order() -> list[str]:
            ks = list(wl.keys)
            rng.shuffle(ks)
            return ks

        with tracer.span("run", workload=args.workload, seed=args.seed):
            with tracer.span("setup"):
                with tracer.span("session.start"):
                    t = time.perf_counter()
                    spark = get_spark(
                        "perfbench",
                        extra_confs={
                            "spark.driver.extraJavaOptions":
                                f"-Djava.io.tmpdir={os.environ['TMPDIR']}",
                            "spark.ui.showConsoleProgress": "false",
                        },
                    )
                    spark.sparkContext.setLogLevel("ERROR")
                    start_s = time.perf_counter() - t
                with tracer.span("warmup"):
                    t = time.perf_counter()
                    wl.warmup(spark, order())
                    # second pass exactly like a timed round: one pass leaves
                    # the JIT mid-way and the first timed round ~25% slow
                    for key in order():
                        one_op(spark, wl, key, -1, tracer, None, False, cores)
                    warmup_s = time.perf_counter() - t
            setup_s = time.perf_counter() - T_PROCESS - gen_s

            probe = SparkProbe(spark) if args.trace else None
            ops, rounds = [], []
            load0, ticks0 = os.getloadavg()[0], cpu_ticks()
            t_begin = time.perf_counter()
            while True:
                elapsed = time.perf_counter() - t_begin
                n_traced = sum(tr for tr, _ in rounds)
                if len(rounds) > n_traced and elapsed >= args.seconds and (
                    n_traced or not args.trace
                ):
                    break
                # a traced run times its first half (at least one round)
                # untraced: the difference in round wall is the overhead
                traced = bool(args.trace) and len(rounds) > 0 and (
                    elapsed >= args.seconds / 2 or len(rounds) > n_traced
                )
                tracer.enabled = traced
                if traced and args.workload == "export" and wl.joblog is None:
                    wl.instrument(tracer)
                n0 = len(ops)
                for key in order():
                    ops.append(one_op(spark, wl, key, len(ops), tracer, probe, traced, cores))
                # a round's wall is its ops back to back: the checks and
                # trace reads between ops are not the program's time
                rounds.append((traced, sum(o["lat"] for o in ops[n0:])))
            timed_s = time.perf_counter() - t_begin
            load1, ticks1 = os.getloadavg()[0], cpu_ticks()
            tracer.enabled = bool(args.trace)

            jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
            peak_rss_mb = _vm_hwm_mb(jvm_pid)
            bad = wl.check()
    finally:
        if isinstance(wl, W.ExportWorkload):
            wl.uninstrument()
        stop(spark)
        shutil.rmtree(run_dir, ignore_errors=True)

    failed = sum(1 for o in ops if o.get("error") or o["key"] in bad or o.get("ok") is False)
    good = [o for o in ops if not o.get("error")]
    lats = [o["lat"] for o in good]
    wall_s = statistics.median(w for tr, w in rounds if not tr)
    tail_v, tail_p = tail(lats)
    dticks = ticks1[0] - ticks0[0]
    res = {
        "workload": args.workload,
        "seed": args.seed,
        "cores": cores,
        "sizes": sizes,
        "gen_s": gen_s,
        "timed_s": timed_s,
        "rounds": len(rounds),
        "loadavg": [load0, load1],
        "cpu_steal": (ticks1[1] - ticks0[1]) / dticks if dticks else 0.0,
        "bad": bad,
        "attempted": len(ops),
        "failed": failed,
        "e2e": {
            "setup_s": setup_s,
            "wall_s": wall_s,
            "op_p50_s": statistics.median(lats) if lats else 0.0,
            "op_tail_s": tail_v,
            "peak_rss_mb": peak_rss_mb,
            "fail_ratio": failed / len(ops) if ops else 1.0,
        },
        "tail_pct": tail_p,
        "per_key": {k: statistics.median(o["lat"] for o in good if o["key"] == k)
                    for k in wl.keys if any(o["key"] == k for o in good)},
        "n_ops": len(lats),
    }
    if args.workload == "export":
        done = [o for o in good if o.get("ok")]
        docs = sum(o["rows"] for o in done)
        res["e2e"]["docs_per_s"] = docs / sum(o["lat"] for o in done) if done else 0.0
        res["e2e"]["bytes_out_per_doc"] = sum(o["bytes"] for o in done) / docs if docs else 0.0
    if args.trace:
        res["layers"] = layers(ops, rounds, tracer, start_s, warmup_s, wl)
        path = os.path.join(WORK, f"trace-{args.workload}-s{args.seed}.json")
        tracer.dump(path)
        res["trace_file"] = os.path.relpath(path, ROOT)
        res["self_times"] = tracer.self_times()
    return res


def one_op(spark, wl, key, i, tracer, probe, traced, cores) -> dict:
    """One timed op in its own job group; in a traced round, read the
    op's Spark metrics and attach its jobs as child spans."""
    import workloads as W
    from spans import job_cover

    group = f"op-{i}" if i >= 0 else "warmup"
    if traced:
        probe.mark()
    with W.job_group(spark, group), tracer.span("op", key=key) as sp:
        t0 = time.time()
        try:
            rec = wl.op(spark, key, tracer)
        except Exception as e:  # a failed op is counted, the loop goes on
            rec = {"key": key, "lat": time.time() - t0, "error": f"{type(e).__name__}: {e}"}
        t1 = time.time()
    if isinstance(wl, W.QueryWorkload):
        rec["leaked_cached"], rec["leaked_views"] = wl.leaks(spark)
    if traced:
        m = probe.read(group)
        jobs = m.pop("job_spans")
        for a, b, jid in jobs:
            tracer.add("spark.job", a, b, sp.sid, job=jid)
        m["driver_outside_s"] = (t1 - t0) - job_cover(jobs, t0, t1)
        m["slot_util"] = m["executor_run_s"] / ((t1 - t0) * cores)
        rec["spark"] = m
        if isinstance(wl, W.ExportWorkload):
            with W.job_group(spark, f"scan-{i}"):
                rec["scan_s"] = wl.scan_pass(spark, tracer)
            probe.read(f"scan-{i}")
    rec["traced"] = traced
    return rec


def layers(ops, rounds, tracer, start_s, warmup_s, wl) -> dict:
    """Per-layer metrics from the traced rounds (see README.md)."""
    import workloads as W

    tr = [o for o in ops if o.get("traced") and not o.get("error")]
    sp = [o["spark"] for o in tr]
    traced_w = [w for t, w in rounds if t]
    plain_w = [w for t, w in rounds if not t]
    m = {
        "session.start_s": start_s,
        "session.warmup_s": warmup_s,
        "trace.overhead_s": (mean(traced_w) - mean(plain_w)) if traced_w and plain_w else 0.0,
    }
    for k in ("jobs", "stages", "tasks", "sql_execs", "driver_outside_s",
              "executor_run_s", "executor_cpu_s", "slot_util", "gc_s",
              "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes",
              "input_bytes", "output_bytes", "task_failures"):
        m[f"spark.{k}"] = mean(s[k] for s in sp)
    tasks = sum(s["tasks"] for s in sp)
    m["spark.shuffle_bytes_per_task"] = (
        sum(s["shuffle_read_bytes"] + s["shuffle_write_bytes"] for s in sp) / tasks if tasks else 0.0
    )
    q = isinstance(wl, W.QueryWorkload)
    m["queries.build_s"] = mean(o["build_s"] for o in tr) if q else 0.0
    m["queries.action_s"] = mean(o["action_s"] for o in tr) if q else 0.0
    m["queries.leaked_cached"] = mean(o["leaked_cached"] for o in tr) if q else 0.0
    m["queries.leaked_views"] = mean(o["leaked_views"] for o in tr) if q else 0.0
    for ph in ("analysis", "optimization", "planning"):
        m[f"plan.{ph}_ms"] = mean(o["plan"][ph] for o in tr) if q else 0.0
    for key in W.ITERATIVE:
        lat = [o["lat"] for o in tr if o["key"] == key]
        m[f"queries.op_s.{key}"] = statistics.median(lat) if lat else 0.0
    e = not q
    infer = [s.end - s.start for s in tracer.spans if s.name == "extjson.infer"]
    m["extjson.infer_s"] = sum(infer) / len(tr) if e and tr else 0.0
    m["extjson.scan_s"] = mean(o["scan_s"] for o in tr) if e else 0.0
    for coll in W.COLLECTIONS:
        m[f"export.collection_s.{coll}"] = (
            mean(o["collections"].get(coll, 0.0) for o in tr) if e else 0.0
        )
    m["export.write_s"] = (
        mean(sum(o["collections"].values()) - o["scan_s"] for o in tr) if e else 0.0
    )
    # counts per round (one full + one ranged export); they repeat exactly
    for name, f in (("rows_written", "rows"), ("rows_unknown_year", "unknown"),
                    ("files_written", "files"), ("bytes_written", "bytes")):
        m[f"export.{name}"] = sum(o[f] for o in tr) / len(traced_w) if e and traced_w else 0.0
    return m


def _vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def stop(spark) -> None:
    """Stop the session and wait for the JVM (and its Python workers)."""
    if spark is None:
        return
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)


# ---------------------------------------------------------------- report


def report(res: dict, bench: dict, trace: bool) -> dict:
    """Print the human summary and return the result object."""
    e2e = res["e2e"]
    print(
        f"# {res['workload']} seed={res['seed']} cores={res['cores']} "
        f"gen_s={res['gen_s']:.2f} sizes={json.dumps(res['sizes'])}"
    )
    print(
        f"# timed {res['timed_s']:.1f}s in {res['rounds']} rounds, {res['n_ops']} ops; "
        f"loadavg {res['loadavg'][0]:.2f}->{res['loadavg'][1]:.2f}; "
        f"cpu steal {100 * res['cpu_steal']:.2f}%"
    )
    units = {**E2E_UNITS, **{m["name"]: m["unit"] for m in bench["per_layer"]}}
    for name, v in e2e.items():
        note = f"  (p{res['tail_pct']:.0f} of {res['n_ops']} ops)" if name == "op_tail_s" else ""
        print(f"{name} = {v:.6g} {units[name]}{note}")
    print("# median op latency per key: "
          + " ".join(f"{k}={v:.3f}s" for k, v in res["per_key"].items()))
    for key, err in sorted(res["bad"].items()):
        print(f"# FAILED {key}: {err}")
    if trace:
        lay = res["layers"]
        for name in sorted(lay):
            print(f"{name} = {lay[name]:.6g} {units.get(name, '')}")
        ex = lay["spark.executor_run_s"]
        print(f"# slot_util = executor_run_s {ex:.3f} / (op wall x {res['cores']} cores)")
        print(f"# tracing overhead: {lay['trace.overhead_s']:+.3f} s per round "
              f"(traced minus untraced round wall); spans in {res['trace_file']}")
        print("# span self times (name count total_s self_s):")
        for name, a in sorted(res["self_times"].items(), key=lambda kv: -kv[1]["self_s"]):
            print(f"#   {name:18s} {a['count']:5d} {a['total_s']:9.3f} {a['self_s']:9.3f}")
        names = [m["name"] for m in bench["per_layer"]]
        metrics = {n: {"value": lay[n], "unit": units[n]} for n in names}
    else:
        names = [m["name"] for m in bench["end_to_end"]]
        metrics = {n: {"value": e2e[n], "unit": units[n]} for n in names}
    return {
        "correct": not res["bad"] and res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": metrics,
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description="closed-loop benchmark of one workload")
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    out = report(run(args), bench, bool(args.trace))
    sys.stdout.flush()
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
