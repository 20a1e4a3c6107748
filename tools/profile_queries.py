"""Per-query job/stage profiler (guide §1: measure first).

Runs the named headline queries exactly as bench.py does (same session
confs, same warmup, noop sink, min-of-two) but with the Spark event log
enabled, then attributes jobs to queries via job-group descriptions and
reports, per query: wall seconds, job count, summed job time, stage
count, task count, and the per-job breakdown (description, duration).

Usage: python tools/profile_queries.py q1 q2 ...   [--passes N]
Writes /tmp/profile_queries_out.json and prints a compact table.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    names = [a for a in sys.argv[1:] if not a.startswith("--")]
    passes = 2
    for a in sys.argv[1:]:
        if a.startswith("--passes="):
            passes = int(a.split("=")[1])

    from bench import warm
    from chatbot_spark.session import get_spark
    from chatbot_spark.workload import SPARK_QUERIES

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    evdir = "/tmp/sparkevents"
    os.makedirs(evdir, exist_ok=True)
    for f in os.listdir(evdir):
        try:
            os.unlink(os.path.join(evdir, f))
        except OSError:
            pass
    spark = get_spark(
        "profile",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": evdir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        },
    )
    warm(spark, sf_dir)

    walls: dict[str, list[float]] = {}
    for pass_n in range(passes):
        for name in names:
            fn = SPARK_QUERIES.get(name)
            if fn is None:
                print(f"## unknown query {name}", file=sys.stderr)
                continue
            spark.sparkContext.setJobGroup(f"prof:{name}:{pass_n}", name)
            t0 = time.time()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            walls.setdefault(name, []).append(round(time.time() - t0, 3))
            spark.sparkContext.setJobGroup(None, None)
            spark.catalog.clearCache()
    app_id = spark.sparkContext.applicationId
    spark.stop()
    time.sleep(1.0)

    # parse the event log (Spark 4 may write a rolling dir: eventlog_v2_<app>)
    ev_path = None
    for f in os.listdir(evdir):
        if app_id in f:
            ev_path = os.path.join(evdir, f)
    jobs: dict[int, dict] = {}
    stage_tasks: dict[int, int] = {}
    stage_time: dict[int, float] = {}
    ev_files = (
        sorted(
            os.path.join(ev_path, f)
            for f in os.listdir(ev_path)
            if f.startswith("events_")
        )
        if os.path.isdir(ev_path)
        else [ev_path]
    )

    def _ev_lines():
        for fp in ev_files:
            with open(fp) as fh:
                yield from fh

    if True:
        for line in _ev_lines():
            try:
                ev = json.loads(line)
            except ValueError:
                continue
            e = ev.get("Event")
            if e == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                grp = props.get("spark.jobGroup.id", "")
                jobs[ev["Job ID"]] = {
                    "group": grp,
                    "t0": ev["Submission Time"],
                    "stages": [s["Stage ID"] for s in ev.get("Stage Infos", [])],
                }
            elif e == "SparkListenerJobEnd":
                if ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]]["t1"] = ev["Completion Time"]
            elif e == "SparkListenerStageCompleted":
                si = ev["Stage Info"]
                stage_tasks[si["Stage ID"]] = si.get("Number of Tasks", 0)
                if si.get("Submission Time") and si.get("Completion Time"):
                    stage_time[si["Stage ID"]] = (
                        si["Completion Time"] - si["Submission Time"]
                    ) / 1000.0

    out: dict[str, dict] = {}
    for name in names:
        if name not in walls:
            continue
        rec = {
            "wall_per_pass": walls[name],
            "wall_min": min(walls[name]),
            "passes": {},
        }
        for pass_n in range(passes):
            grp = f"prof:{name}:{pass_n}"
            js = [j for j in jobs.values() if j.get("group") == grp and "t1" in j]
            job_rows = sorted(
                ((j["t1"] - j["t0"]) / 1000.0 for j in js), reverse=True
            )
            sids = sorted({s for j in js for s in j["stages"]})
            run_stages = [s for s in sids if s in stage_time]
            rec["passes"][pass_n] = {
                "n_jobs": len(js),
                "job_time_sum": round(sum(job_rows), 3),
                "top_jobs": [round(x, 3) for x in job_rows[:8]],
                "n_stages_submitted": len(sids),
                "n_stages_run": len(run_stages),
                "n_tasks": sum(stage_tasks.get(s, 0) for s in run_stages),
                "stage_time_sum": round(
                    sum(stage_time[s] for s in run_stages), 3
                ),
            }
        out[name] = rec

    with open("/tmp/profile_queries_out.json", "w") as fh:
        json.dump(out, fh, indent=1)
    print(f"{'query':34s} {'wall':>7s} {'jobs':>5s} {'jobsum':>7s} {'stages':>6s} {'tasks':>6s}")
    for name, rec in sorted(out.items(), key=lambda kv: -kv[1]["wall_min"]):
        # report the pass with min wall
        best = min(range(len(rec["wall_per_pass"])), key=lambda i: rec["wall_per_pass"][i])
        p = rec["passes"].get(best, {})
        print(
            f"{name:34s} {rec['wall_min']:7.3f} {p.get('n_jobs', 0):5d} "
            f"{p.get('job_time_sum', 0):7.3f} {p.get('n_stages_run', 0):6d} "
            f"{p.get('n_tasks', 0):6d}"
        )


if __name__ == "__main__":
    main()
