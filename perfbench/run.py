"""Repo benchmark for lucene_solr_spark: BM25 top-k queries over a built
store, and NRT ingest, each checked against the independent oracle.

Run from the root of a checkout:

    python3 perfbench/run.py --workload query|ingest --seed N \
        --seconds S --trace 0|1

The last line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics of BENCHMARK.json
with ``--trace 0``, its per-layer metrics with ``--trace 1``). The lines
before it are a readable report. A record of the run (inputs, every
metric, and with ``--trace 1`` the spans as JSONL) is written under
``.perfbench/out/`` in the checkout. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import contextlib
import importlib.util
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

ROOT = os.getcwd()
CORES = len(os.sched_getaffinity(0))  # what `nproc` reports
OUT_DIR = os.path.join(ROOT, ".perfbench", "out")


def _load_contract() -> dict:
    here = os.path.dirname(os.path.abspath(__file__))
    with open(os.path.join(os.path.dirname(here), "BENCHMARK.json")) as f:
        return json.load(f)


def _probe_capacity(label: str) -> dict:
    """tools/bench_scaling.probe_capacity at the host's core count.
    Reported only; never used to drop or repeat a run."""
    spec = importlib.util.spec_from_file_location(
        "bench_scaling", os.path.join(ROOT, "tools", "bench_scaling.py")
    )
    mod = importlib.util.module_from_spec(spec)
    sys.modules["bench_scaling"] = mod  # the probe's pool pickles by module name
    spec.loader.exec_module(mod)
    out = mod.probe_capacity(max(1, CORES // 2))
    out["when"] = label
    return out


def _launch_env(workdir: str, traced: bool) -> str | None:
    """Environment for the Spark JVM and its Python workers: everything
    they write stays under ``workdir``. A traced run turns the event log
    on here, through launch configuration."""
    local = os.path.join(workdir, "spark-local")
    tmp = os.path.join(workdir, "tmp")
    os.makedirs(local)
    os.makedirs(tmp)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(CORES)
    os.environ["SPARK_DRIVER_MEM"] = "1g"
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    args = [f"--driver-java-options '-Xms1g -Djava.io.tmpdir={tmp} -XX:-UsePerfData'"]
    log_dir = None
    if traced:
        log_dir = os.path.join(workdir, "eventlog")
        os.makedirs(log_dir)
        args += ["--conf spark.eventLog.enabled=true",
                 "--conf spark.eventLog.compress=false",
                 f"--conf spark.eventLog.dir=file://{log_dir}"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(args + ["pyspark-shell"])
    return log_dir


def _stop_spark(spark) -> None:
    """Stop the session, the gateway JVM and its Python workers, and wait
    until every one of them has ended."""
    from py4j.protocol import Py4JError
    from pyspark import SparkContext

    from perfbench.trace import descendants

    kids = descendants(os.getpid())
    try:
        spark.stop()
    except Py4JError:  # a signal cut a gateway call short; the JVM goes below
        pass
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=20)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + 20
    for pid in kids:
        while time.time() < deadline and _alive(pid):
            time.sleep(0.05)
        if _alive(pid):
            with contextlib.suppress(ProcessLookupError):
                os.kill(pid, signal.SIGKILL)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else float("nan")


def end_to_end(ctx, res: dict, session_s: float, rss_mb: dict) -> dict:
    return {
        "setup_s": session_s + ctx.setup_program_s,
        "op_p50_ms": _median(res["op_s"]) * 1000.0,
        "turns_per_s": res["turns_per_s"],
        "index_bytes_per_text_byte": ctx.notes["index_bytes_per_text_byte"],
        "peak_rss_mb": rss_mb["total"],
    }


def _overhead(traced: list[dict], plain: list[dict]) -> float:
    """Geometric mean over pairs of the traced op median over the
    untraced one, minus 1. A pair is one read made twice, with spans and
    without, in alternating order. The second run of a read is faster
    (what the first one read is warm), and over pairs that alternate the
    geometric mean cancels that order effect, where a median would pick
    one order's ratio."""
    def by_pair(ops):
        out: dict = {}
        for o in ops:
            out.setdefault(o.get("pair"), []).append(o["seconds"])
        return out

    on, off = by_pair(traced), by_pair(plain)
    logs = [math.log(_median(on[k]) / _median(off[k]))
            for k in on.keys() & off.keys()]
    return math.exp(statistics.fmean(logs)) - 1.0 if logs else float("nan")


def per_layer(ctx, rec, res: dict, session_s: float, log_dir: str) -> dict:
    """Per-layer figures of a traced run. The op-normalized ones are
    means over the traced ops of the workload's primary kind."""
    from perfbench.stats import ratio, self_time_by_layer
    from perfbench.trace import EVENT_METRICS, event_log_metrics

    primary = [o for o in rec.ops if o["kind"] == res["primary"] and not o["error"]]
    traced = [o for o in primary if o["traced"]]
    plain = [o for o in primary if not o["traced"]]
    layer = dict(ctx.layer)
    layer["session.start_s"] = session_s
    layer["session.jobs_per_op"] = statistics.mean(o["jobs"] for o in primary)
    layer["session.tasks_per_op"] = statistics.mean(o["tasks"] for o in primary)
    layer["session.failed_tasks"] = float(sum(o["failed_tasks"] for o in rec.ops))
    by_group = event_log_metrics(log_dir)
    for m in EVENT_METRICS:
        per_op = [sum(by_group.get(g, {}).get(m, 0.0) for g in o["groups"])
                  for o in traced]
        layer[f"session.{m}_per_op"] = statistics.mean(per_op)
    layer["trace.overhead_ratio"] = _overhead(traced, plain)
    spans = rec.spans
    # task metrics of the jobs each layer call launched while innermost
    by_span: dict[str, dict[str, float]] = {}
    for s in spans:
        if s["group"] in by_group:
            acc = by_span.setdefault(s["name"], dict.fromkeys(EVENT_METRICS, 0.0))
            for m in EVENT_METRICS:
                acc[m] += by_group[s["group"]][m]
    ctx.notes["event_metrics_by_span"] = by_span
    durations: dict[str, list[float]] = {}
    for s in spans:
        durations.setdefault(s["name"], []).append(s["end"] - s["start"])
    assign = durations.get("index.docids.assign_doc_ids", [])
    layer["index.docids.assign_ms"] = _median(assign) * 1000.0
    for name, key in (("index.segments.term_stats", "index.segments.term_stats_ms"),
                      ("streaming.term_stats", "streaming.term_stats_ms"),
                      ("index.segments.buckets_of", "index.segments.buckets_of_ms"),
                      ("index.segments.split_meta", "index.segments.split_meta_ms"),
                      ("index.bloom.splits_for", "index.bloom.splits_for_ms"),
                      ("search.executor.execute", "search.executor.execute_ms"),
                      ("streaming.process_batch", "streaming.process_batch_ms"),
                      ("streaming.reader", "streaming.reader_open_ms"),
                      ("search.executor.search", "search.executor.search_ms")):
        if name in durations:
            layer[key] = _median(durations[name]) * 1000.0
    parse = durations.get("search.qparser.parse_lucene", [])
    if parse:
        layer["search.qparser.parse_us"] = _median(parse) * 1e6
    traced_ids = {o["id"] for o in traced}
    if res["primary"] in ("query", "fresh_read") and traced:
        routed = {s["op"] for s in spans
                  if s["name"].startswith("search.wand.") and s["op"] in traced_ids}
        r = ratio(len(routed), len(traced))
        layer["search.wand.routed_ratio"] = r["value"]
        ctx.notes["routed"] = r
    keep = ctx.notes.get("bloom_keep")
    if keep:
        layer["index.bloom.split_keep_ratio"] = keep["value"]
    if res["primary"] == "fresh_read" and traced:
        layer["streaming.search_ms"] = layer.get("search.executor.search_ms", 0.0) + \
            layer.get("search.executor.execute_ms", 0.0)
        layer["streaming.segments_per_read"] = statistics.mean(
            o.get("segments", 0) for o in traced)
    # layer self time over every traced timed op (on ingest the index
    # layer runs inside commits, not inside the fresh queries)
    timed_ids = {o["id"] for o in rec.ops
                 if o["timed"] and o["traced"] and not o["error"]}
    for lay, secs in self_time_by_layer(
        [s for s in spans if s["op"] in timed_ids]
    ).items():
        layer[f"{lay}.self_ms_per_op"] = secs * 1000.0 / len(timed_ids)
    return layer


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("query", "ingest"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # a TERM unwinds like an exception, so Spark is stopped and the
    # scratch directory removed on the way out
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not os.path.isdir(os.path.join(ROOT, "lucene_solr_spark")):
        print("perfbench: run from the root of a lucene_solr_spark checkout "
              "(no lucene_solr_spark/ package here)", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    contract = _load_contract()
    traced = bool(args.trace)

    workdir = os.path.join(
        ROOT, ".perfbench", "work", f"{args.workload}-s{args.seed}-{os.getpid()}"
    )
    shutil.rmtree(workdir, ignore_errors=True)
    os.makedirs(workdir)
    os.makedirs(OUT_DIR, exist_ok=True)
    try:
        return _run(args, contract, traced, workdir)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


def _run(args, contract: dict, traced: bool, workdir: str) -> int:
    t_start = time.perf_counter()
    log_dir = _launch_env(workdir, traced)
    probes = [_probe_capacity("before")]

    from perfbench import workloads
    from perfbench.stats import summarize_ms
    from perfbench.trace import Recorder

    import lucene_solr_spark.session as session

    rec = Recorder(traced)
    if traced:
        rec.patch_entry_points()
    rec.spans_on = traced
    ctx = workloads.Ctx(spark=None, rec=rec, workdir=workdir,
                        seed=args.seed, seconds=args.seconds, _t=t_start)
    t0 = time.perf_counter()
    spark = session.get_spark(app_name=f"perfbench-{args.workload}")
    spark.sparkContext.setLogLevel("ERROR")
    session_s = time.perf_counter() - t0
    rec.sc = spark.sparkContext
    ctx.spark = spark
    ctx.mark("session")
    try:
        res = workloads.WORKLOADS[args.workload](ctx)
        ctx.mark("kernels")
        rss = ctx.rss.result
    finally:
        rec.unpatch()
        _stop_spark(spark)
    ctx.mark("stop")
    probes.append(_probe_capacity("after"))
    ctx.mark("probe_after")

    attempted = len(ctx.checks)
    failures = [(op_id, why) for op_id, why in ctx.checks if why]
    e2e = end_to_end(ctx, res, session_s, rss)
    record = {
        "workload": args.workload,
        "why": workloads.WHY[args.workload],
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": int(traced),
        "inputs": ctx.notes,
        "capacity_probe": probes,
        "peak_rss_mb": rss,
        "phase_s": ctx.phases,
        "end_to_end": e2e,
        "failed_ops_ratio": {"value": len(failures) / attempted,
                             "num": len(failures), "base": attempted},
        "failures": failures[:20],
        "report": res["report"],
    }
    if traced:
        layer = per_layer(ctx, rec, res, session_s, log_dir)
        record["per_layer"] = layer
        stem = f"{args.workload}-seed{args.seed}-trace"
        rec.write_spans(os.path.join(OUT_DIR, stem + ".spans.jsonl"))
    else:
        stem = f"{args.workload}-seed{args.seed}"
    record["op_latency"] = summarize_ms(res["op_s"])
    record["ops"] = [
        {k: o.get(k) for k in ("id", "kind", "shape", "seconds", "jobs",
                               "tasks", "failed_tasks", "traced", "error")}
        for o in rec.ops
    ]
    with open(os.path.join(OUT_DIR, stem + ".json"), "w") as f:
        json.dump(record, f, indent=1, default=float)

    _print_report(record, contract)
    wanted = contract["per_layer" if traced else "end_to_end"]
    values = record["per_layer"] if traced else e2e
    metrics = {m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]}
               for m in wanted}
    print(json.dumps({
        "correct": not failures,
        "attempted": attempted,
        "failed": len(failures),
        "metrics": metrics,
    }))
    return 0


def _print_report(record: dict, contract: dict) -> None:
    units = {m["name"]: m["unit"] for m in contract["end_to_end"]}
    print(f"perfbench {record['workload']} seed={record['seed']} "
          f"trace={record['trace']}: {record['why']}")
    for k, v in record["end_to_end"].items():
        print(f"  {k:28s} {v:14.4f} {units.get(k, '')}")
    for k, v in record["report"].items():
        print(f"  {k:28s} {v:14.4f}")
    lat = record["op_latency"]
    if "tail_ms" in lat:
        print(f"  op_p{lat['tail_pct']:g}_ms{'':20s} {lat['tail_ms']:14.4f} ms "
              f"(n={lat['n']})")
    else:
        print(f"  op samples                   {lat['n']:14d} (too few for a tail)")
    r = record["peak_rss_mb"]
    print(f"  peak_rss_mb split            jvm={r['jvm']:.1f} workers={r['workers']:.1f} "
          f"driver={r['driver']:.1f} MB (driver above its {r['driver_base']:.1f} MB "
          f"at set-up; oracle {record['inputs']['oracle_rss_mb']:.1f} MB of that)")
    f = record["failed_ops_ratio"]
    print(f"  failed_ops_ratio             {f['value']:14.4f} "
          f"({f['num']}/{f['base']} ops)")
    print(f"  inputs {json.dumps(record['inputs'], default=float)}")
    for p in record["capacity_probe"]:
        print(f"  capacity_probe {p['when']:7s} inflation_vs_ref="
              f"{p['inflation_vs_ref']} loaded={p['probe_loaded_sec']}s")
    for k, v in sorted(record.get("per_layer", {}).items()):
        print(f"  {k:44s} {v:16.4f}")


if __name__ == "__main__":
    sys.exit(main())
