"""Seeded ingest / retrieve / curate benchmark of the chatbot_spark engine.

    python3 perfbench/run.py --workload retrieve --seed 1 --seconds 10 --trace 0

Run from the repository root. One run starts a local Spark session
(``local[nproc]`` through ``chatbot_spark.session.get_spark``), sets the
workload up three times (the last set-up is kept), runs one untimed
warm-up round, then runs rounds of the workload's chain until their
engine time reaches ``--seconds``. Every round's outputs are checked
against ground truth computed outside the engine.

With ``--trace 0`` it reports the end-to-end metrics; with
``--trace 1`` the first half of the timed phase runs untraced and the
second half traced (layer boundaries materialized, one span and job
group per layer call), and it reports the per-layer metrics plus the
tracing overhead. The last line of standard output is one JSON object
``{"correct", "attempted", "failed", "metrics"}``; the full record,
stamped with commit, date, seed, nproc, loadavg and pyspark version,
is written to ``--results`` (default ``.perfbench/results/``) and the
spans to ``.perfbench/spans/``. Everything else the run writes — Spark's
local dirs, temp files, the workloads' tables — stays under
``.perfbench/`` in the current directory.
"""

from __future__ import annotations

import argparse
import contextlib
import datetime
import json
import os
import shutil
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
GENERATE_REPEATS = 3


def _fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def _prepare_env(out: str) -> None:
    """Keep every file the run writes inside ``out``, and make the engine
    importable by the Python workers Spark starts."""
    tmp = os.path.join(out, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(out, "local")
    # the launcher JVM spark-submit starts first: no hsperfdata in /tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["PYTHONDONTWRITEBYTECODE"] = "1"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    for p in (ROOT, os.path.join(ROOT, "tools"), HERE):
        if p not in sys.path:
            sys.path.insert(0, p)


def _commit() -> str:
    """HEAD's sha read from .git without running git; "unknown" in a
    checkout that is not a repository."""
    git = os.path.join(ROOT, ".git")
    try:
        with open(os.path.join(git, "HEAD")) as f:
            head = f.read().strip()
        if not head.startswith("ref: "):
            return head
        ref = head[5:]
        path = os.path.join(git, ref)
        if os.path.exists(path):
            with open(path) as f:
                return f.read().strip()
        with open(os.path.join(git, "packed-refs")) as f:
            for line in f:
                if line.strip().endswith(" " + ref):
                    return line.split()[0]
    except OSError:
        pass
    return "unknown"


def _stop_spark(spark) -> None:
    """Stop the session, then the driver JVM, and wait until it and every
    process it started (the Python workers) have exited."""
    import subprocess

    import layers as tr
    from py4j.protocol import Py4JError
    from pyspark import SparkContext

    tree = tr.process_tree(os.getpid())
    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        with contextlib.suppress(Py4JError):
            gw.shutdown()
    if proc is not None:
        with contextlib.suppress(OSError):
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    while time.time() < deadline:
        alive = [p for p in tree if os.path.exists(f"/proc/{p}") and not _zombie(p)]
        if not alive:
            return
        time.sleep(0.1)
    for p in tree:
        try:
            os.kill(p, 9)
        except OSError:
            pass


def _zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] == "Z"
    except OSError:
        return True


def run(args) -> tuple[dict, dict]:
    import stats
    import layers as tr
    import workloads

    out = os.path.join(ROOT, ".perfbench")
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    stamp = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "seconds": args.seconds,
        "commit": _commit(),
        "date": datetime.datetime.now(datetime.timezone.utc).isoformat(timespec="seconds"),
        "nproc": len(os.sched_getaffinity(0)),
        "loadavg_start": list(os.getloadavg()),
    }

    from pyspark import __version__ as pyspark_version

    from chatbot_spark.session import get_spark

    stamp["pyspark"] = pyspark_version
    conf = {
        "spark.ui.showConsoleProgress": "false",
        # no hsperfdata file: the JVM would write it to /tmp
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": os.path.join(out, "warehouse"),
    }
    if args.trace:
        conf.update({"spark.ui.retainedJobs": "100000", "spark.ui.retainedStages": "100000"})

    t0 = time.time()
    spark = get_spark("perfbench", extra_conf=conf)
    sc = spark.sparkContext
    tracer = tr.Tracer(sc, run_id, enabled=False)
    session_group = f"pb:{run_id}:session"
    sc.setJobGroup(session_group, "session")
    spark.range(1000).selectExpr("sum(id)").collect()
    sc.setLocalProperty("spark.jobGroup.id", None)
    session_s = time.time() - t0
    session_span = tr.Span("session", t0, time.time(), run=run_id, seq=-1, group=session_group)

    persisted: list = []
    work = os.path.join(out, "work", run_id)
    wl = workloads.WORKLOADS[args.workload](spark, args.seed, work, tracer, persisted)
    try:
        gen_times = []
        for rep in range(GENERATE_REPEATS):
            t = time.perf_counter()
            wl.generate(rep)
            gen_times.append(time.perf_counter() - t)
        t = time.perf_counter()
        wl.prepare()
        prepare_s = time.perf_counter() - t
        t = time.perf_counter()
        warm = wl.round(-1)
        _free(persisted)
        warm_s = time.perf_counter() - t
        setup_s = session_s + stats.median(gen_times) + prepare_s + warm_s

        def rounds(budget: float, start: int) -> list:
            done, spent = [], 0.0
            while spent < budget:
                r = wl.round(start + len(done))
                _free(persisted)
                done.append(r)
                spent += r.seconds
            return done

        with tr.PeakRss(interval=0.25) as rss:
            if args.trace:
                plain = rounds(args.seconds / 2, 0)
                tracer.enabled = True
                with tr.layer_boundaries(tracer, persisted):
                    traced = rounds(args.seconds / 2, len(plain))
                tracer.enabled = False
                timed = plain + traced
            else:
                timed = rounds(args.seconds, 0)
        final_errs = wl.final_checks()
        store = tr.read_status_store(sc, f"pb:{run_id}:") if args.trace else {}
    finally:
        _stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    stamp["loadavg_end"] = list(os.getloadavg())
    attempted = sum(r.ops for r in timed) + warm.ops + 1
    failed = sum(min(r.ops, len(r.failures)) for r in timed + [warm]) + (1 if final_errs else 0)
    failures = [f"{op}: {e}" for r in [warm] + timed for op, es in r.failures.items() for e in es]
    failures += [f"final check: {e}" for e in final_errs]

    base = plain if args.trace else timed
    walls = [r.seconds for r in base]
    # recall is not a timing: the warm-up round's answers count too
    recall_total = sum(r.recall_total for r in [warm] + timed)
    e2e = {
        "setup_s": (setup_s, "s"),
        "wall_s": (stats.median(walls), "s"),
        "items_per_s": (sum(r.items for r in base) / sum(walls), "items/s"),
        "recall": (sum(r.recall_hits for r in [warm] + timed) / recall_total, "ratio"),
    }
    record = {
        **stamp,
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "failed_ratio": failed / attempted,
        "failures": failures[:50],
        "rounds": len(timed),
        "round_s": walls,
        "items_label": wl.items,
        "setup": {"session_s": session_s, "generate_s": gen_times, "prepare_s": prepare_s, "warmup_s": warm_s},
        "step_latency": _step_summary(base, stats),
        # not an end-to-end metric: JVM heap growth makes it spread by
        # about a fifth across runs
        "peak_rss_mb": rss.peak,
        "end_to_end": {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()},
    }
    if args.trace:
        spans = [session_span] + tracer.spans
        layer = tr.layer_metrics(spans, store, len(traced))
        layer["trace.overhead_s"] = stats.median([r.seconds for r in traced]) - stats.median(walls)
        units = {n: u for n, u, _ in tr.per_layer_names()}
        metrics = {n: {"value": layer[n], "unit": units[n]} for n, _, _ in tr.per_layer_names()}
        record["per_layer"] = metrics
        os.makedirs(os.path.join(out, "spans"), exist_ok=True)
        tracer.spans.insert(0, session_span)
        tracer.dump(os.path.join(out, "spans", f"{run_id}.jsonl"))
    else:
        metrics = record["end_to_end"]
    os.makedirs(args.results, exist_ok=True)
    with open(os.path.join(args.results, f"{run_id}.json"), "w") as f:
        json.dump(record, f, indent=1)
    return record, metrics


def _free(persisted: list) -> None:
    for df in persisted:
        df.unpersist()
    persisted.clear()


def _step_summary(rounds, stats) -> dict:
    """Per step label: samples, median, and the highest percentile with
    at least ten samples beyond it (or none)."""
    by: dict[str, list[float]] = {}
    for r in rounds:
        for label, dt in r.steps:
            by.setdefault(label, []).append(dt)
    out = {}
    for label, v in by.items():
        hp = stats.highest_percentile(v)
        out[label] = {"n": len(v), "median_s": stats.median(v),
                      "tail": None if hp is None else {"p": hp[0], "s": hp[1]}}
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["ingest", "retrieve", "curate"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--results", default=os.path.join(".perfbench", "results"),
                    help="directory for the run's JSON record (compare.py reads these)")
    args = ap.parse_args(argv)
    args.results = os.path.abspath(args.results)
    if args.seed < 0 or args.seconds <= 0:
        _fail("--seed must be >= 0 and --seconds > 0")
    if not os.path.isfile(os.path.join(ROOT, "chatbot_spark", "session.py")):
        _fail(f"no chatbot_spark package under {ROOT}; run from the repository root")
    if not os.path.isfile(os.path.join(ROOT, "tools", "_synth.py")):
        _fail(f"no tools/_synth.py under {ROOT}; run from the repository root")
    _prepare_env(os.path.join(ROOT, ".perfbench"))
    record, metrics = run(args)
    for name, m in metrics.items():
        print(f"{name} = {m['value']:.6g} {m['unit']}")
    print(f"failed_ratio = {record['failed_ratio']:.6g} ratio ({record['failed']}/{record['attempted']} operations)")
    print(f"peak_rss_mb = {record['peak_rss_mb']:.6g} MB (driver JVM + Python workers, timed rounds)")
    for f in record["failures"]:
        print(f"FAILED {f}")
    if args.trace:
        print(f"trace overhead = {metrics['trace.overhead_s']['value']:.4g} s per round")
    print(json.dumps({k: record[k] for k in ("commit", "date", "seed", "nproc", "loadavg_start", "loadavg_end", "pyspark")}))
    print(json.dumps({
        "correct": record["correct"],
        "attempted": record["attempted"],
        "failed": record["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
