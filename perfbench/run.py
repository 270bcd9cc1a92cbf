"""Benchmark entry point: one workload, one seed, one process.

    python3 perfbench/run.py --workload query_point --seed 1 --seconds 10 --trace 0

Run from the root of a checkout.  Spark runs on a pinned ``local[<cores>]``
master (the cores this process may use) with a pinned driver heap; there is
no fallback master.  All scratch files live under ``.perfbench_work/`` in
the checkout and are removed at exit.

Standard output ends with two JSON lines: a detail record (workload
parameters, master, heap, per-operation figures, errors), then the result
``{"correct", "attempted", "failed", "metrics"}``.  ``--trace 0`` reports
the end-to-end metrics of BENCHMARK.json; ``--trace 1`` enables job groups,
spans and the Spark event log and reports the per-layer metrics instead.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

ROOT = os.getcwd()
HERE = os.path.dirname(os.path.abspath(__file__))


def load_json(path: str) -> dict:
    with open(path) as f:
        return json.load(f)


def cores() -> int:
    return len(os.sched_getaffinity(0))


def start_spark(spec: dict, n: int, work: str, trace: bool):
    """SparkSession on local[n] with a pinned heap; event log only when
    tracing."""
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = spec["driver_memory"]
    # shuffle and spill stay in the checkout (SPARK_LOCAL_DIRS would win
    # over spark.local.dir)
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = os.environ["SPARK_LOCAL_DIRS"] = os.path.join(
        work, "spark-local"
    )
    from ivfadc_spark.session import get_spark

    conf = {"spark.sql.warehouse.dir": os.path.join(work, "warehouse")}
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + log_dir,
            "spark.eventLog.compress": "false",
        })
    spark = get_spark("perfbench", master=f"local[{n}]", shuffle_partitions=n, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()  # the first job pays JVM-side lazy set-up
    return spark


def descendants(pid: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        for c in kids.get(p, []):
            out.append(c)
            todo.append(c)
    return out


def peak_rss_mb() -> dict[str, float]:
    """VmHWM in MB of this process and every descendant (the JVM and its
    Python workers), summed by command name."""
    out: dict[str, float] = {}
    for pid in [os.getpid()] + descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/comm") as f:
                comm = f.read().strip()
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        out[comm] = out.get(comm, 0.0) + int(line.split()[1]) / 1024.0
        except OSError:
            continue
    return out


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of the host's CPUs so far."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return v[7], sum(v)


def stop_spark(spark) -> None:
    """Stop Spark, end the gateway JVM and wait for every child process."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    # the JVM's Python workers are re-parented when it exits, so list them now
    started = descendants(os.getpid())
    try:
        spark.stop()
    finally:
        if gw is not None:
            gw.shutdown()
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits on EOF
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()

    def alive() -> list[int]:
        return [p for p in started if os.path.exists(f"/proc/{p}")]

    deadline = time.time() + 30
    while alive() and time.time() < deadline:
        time.sleep(0.2)
    for pid in alive():  # outlived the JVM: stop them too
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    while alive() and time.time() < deadline + 10:
        time.sleep(0.2)


def trace_metrics(wl, tracer, n_cores: int, work: str, group_jobs) -> tuple[dict, dict]:
    """Per-layer metrics from the spans, the status tracker's job groups,
    the event log and the last build's manifest."""
    from perfbench import spans as S

    jobs, stages = S.parse_event_log(S.event_log_lines(os.path.join(work, "eventlog")))
    spans = tracer.spans
    owner = S.attribute(spans, jobs, group_jobs)
    root = next(s.id for s in spans if s.name == "benchmark.timed")
    under = S.subtree(spans, root)
    layer_self = S.layer_self_times(spans, root)
    wall = spans[root].wall
    out: dict = {"trace.self_time_frac": sum(layer_self.values()) / wall}

    def named(name, ids):
        return [s for s in spans if s.name == name and s.id in ids]

    calls = named("client.topk_call", under)
    per = []
    for c in calls:
        sub = S.subtree(spans, c.id)
        w = S.work_of(sub, owner, jobs, stages)
        col = S.work_of(S.subtree(spans, named("operators.wand.collect", sub)[0].id),
                        owner, jobs, stages)
        opens = named("operators.segments.open", sub)
        ow = S.work_of({i for o in opens for i in S.subtree(spans, o.id)}, owner, jobs, stages)
        per.append({
            "wand.jobs_per_call": w.jobs,
            "wand.stages_per_call": w.stages,
            "wand.driver_overhead_s": c.wall - w.run_s / n_cores,
            "wand.scan_stage_s": col.last_stage_wall,
            "wand.scan_cpu_s": col.last_stage_cpu,
            "wand.scan_python_s": max(0.0, col.last_stage_run - col.last_stage_cpu),
            "wand.shuffle_read_mb": w.shuffle_read_b / 1e6,
            "segments.open_s": sum(o.wall for o in opens),
            "segments.open_jobs": ow.jobs,
        })
    for k in per[0]:
        out[k] = statistics.mean(p[k] for p in per)

    build = [s for s in spans if s.name == "plans.build_index.build_index"][-1]
    bw = S.work_of(S.subtree(spans, build.id), owner, jobs, stages)
    man = load_json(os.path.join(wl.last_build, "_manifest.json"))["stages"]
    out.update({
        "build_index.assign_s": man["00_doc_map"]["assign_s"],
        "build_index.stage00_s": man["00_doc_map"]["wall_s"],
        "build_index.stage01_s": man["01_blocks"]["wall_s"],
        "build_index.stage02_s": man["02_dict"]["wall_s"],
        "build_index.jobs": bw.jobs,
        "build_index.stages": bw.stages,
        "build_index.tasks": bw.tasks,
        "build_index.task_cpu_s": bw.cpu_s,
        "build_index.gc_s": bw.gc_s,
        "build_index.shuffle_write_mb": bw.shuffle_write_b / 1e6,
        "build_index.busy_frac": bw.run_s / (build.wall * n_cores),
        "postings.postings": man["02_dict"]["postings"],
        "postings.index_mb": man["02_dict"]["bytes"] / 1e6,
    })
    merges = named("operators.segments.merge_segments", under)
    mw = S.work_of({i for m in merges for i in S.subtree(spans, m.id)}, owner, jobs, stages)
    out["segments.merge_jobs"] = mw.jobs
    out["segments.merge_write_mb"] = mw.output_b / 1e6
    detail = {
        "layer_self_s": layer_self,
        "timed_wall_s": wall,
        "jobs_total": len(jobs),
        "jobs_outside_spans": sum(1 for j in owner.values() if j is None),
    }
    return out, detail


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "ivfadc_spark", "__init__.py")):
        print("perfbench: run from the root of an ivfadc_spark checkout", file=sys.stderr)
        return 2
    bench = load_json(os.path.join(ROOT, "BENCHMARK.json"))
    spec = load_json(os.path.join(HERE, "spec.json"))
    if args.workload not in spec["workloads"]:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    trace = bool(args.trace)
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    # Python workers import the engine and the benchmark from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # every JVM (the spark-submit launcher too): temp files in the checkout,
    # no /tmp/hsperfdata_* files
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        [os.environ.get("JAVA_TOOL_OPTIONS", ""), "-XX:-UsePerfData",
         f"-Djava.io.tmpdir={os.environ['TMPDIR']}"]
    ).strip()
    sys.path.insert(0, ROOT)
    try:
        return run(args, bench, spec, trace, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run still uses it


def run(args, bench: dict, spec: dict, trace: bool, work: str) -> int:
    from perfbench.spans import Tracer, patched
    from perfbench.workloads import WORKLOADS

    n = cores()
    ticks0 = cpu_ticks()
    t0 = time.perf_counter()
    spark = start_spark(spec, n, work, trace)
    spark_start_s = time.perf_counter() - t0
    sc = spark.sparkContext
    master, heap = sc.master, sc.getConf().get("spark.driver.memory")
    tracer = Tracer(sc, enabled=trace)
    wl = WORKLOADS[args.workload](spark, tracer, spec, args.seed, args.seconds, work)
    probes, group_jobs = {}, {}
    try:
        with patched(tracer, span_targets() if trace else []):
            with tracer.span("benchmark.setup"):
                wl.setup()
            setup_s = time.perf_counter() - t0
            with tracer.span("benchmark.timed"):
                wl.timed()
        rss = peak_rss_mb()
        # CPU time the hypervisor gave to others: the run's noise floor
        ticks1 = cpu_ticks()
        steal = (ticks1[0] - ticks0[0]) / max(1, ticks1[1] - ticks0[1])
        if trace:
            group_jobs = tracer.group_job_ids()
            probes = wl.probes()
        m = wl.metrics()
        blocks_per_result = wl.blocks_per_result()
    finally:
        stop_spark(spark)
    layers, trace_detail = ({}, {})
    if trace:
        layers, trace_detail = trace_metrics(wl, tracer, n, work, group_jobs)
        layers.update(probes)
        layers["wand.blocks_per_result"] = blocks_per_result
    wl.verify()
    detail = m.pop("_detail")
    e2e = {
        "setup_s": setup_s,
        "op_p50_ms": m["op_p50_ms"],
        "query_qps": m["query_qps"],
        "peak_rss_mb": sum(rss.values()),
        "index_bytes_per_text_byte": m["index_bytes_per_text_byte"],
    }
    layers["oracle.near_tie_swaps"] = wl.near_tie_swaps
    layers["oracle.failed_ops_frac"] = wl.failed / max(1, wl.attempted)
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": int(trace),
        "master": master,
        "driver_memory": heap,
        "cores": n,
        "spark_start_s": spark_start_s,
        "peak_rss_mb_by_process": rss,
        "cpu_steal_frac": steal,
        "params": spec["workloads"][args.workload],
        "end_to_end": e2e,
        **detail,
        "failed_ops_frac": wl.failed / max(1, wl.attempted),
        "near_tie_swaps": wl.near_tie_swaps,
        "errors": wl.errors[:20],
        **({"trace_detail": trace_detail} if trace else {}),
    }
    print(json.dumps(record, default=float), flush=True)
    want = bench["per_layer"] if trace else bench["end_to_end"]
    values = {**e2e, **layers}
    metrics = {d["name"]: {"value": float(values[d["name"]]), "unit": d["unit"]} for d in want}
    print(json.dumps({
        "correct": wl.failed == 0,
        "attempted": wl.attempted,
        "failed": wl.failed,
        "metrics": metrics,
    }), flush=True)
    return 0


def span_targets():
    """Engine entry points wrapped in spans during the traced run: the
    calls one layer makes into another below the benchmark's own calls."""
    from ivfadc_spark.operators import segments, wand
    from ivfadc_spark.plans import build_index

    return [
        (segments.Segment, "raw_blocks", "operators.segments.open"),
        (segments.Segment, "dl_broadcast", "operators.segments.dl_table"),
        (segments.SegmentSet, "dl_broadcast", "operators.segments.dl_table"),
        (wand, "query_terms", "operators.query.query_terms"),
        (build_index, "plan_doc_ids", "sources.transcripts.plan_doc_ids"),
    ]


if __name__ == "__main__":
    sys.exit(main())
