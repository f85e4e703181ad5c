#!/usr/bin/env python3
"""The repository benchmark. See perfbench/README.md for the workloads and
metrics.

    python3 perfbench/run.py --workload registry|pipeline \
        --seed N --seconds S --trace 0|1

Builds the program from source (perfbench/build.py), generates the inputs
from the seed under a per-run root inside the checkout (deleted at exit),
runs one workload in one JVM at local[nproc], checks the outputs and prints
one JSON line last: the end-to-end metrics untraced, the per-layer metrics
traced. A line before it carries the workload's detail figures.
"""
import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import gen  # noqa: E402
import stats  # noqa: E402

CHECKOUT = os.path.dirname(HERE)
WORKLOADS = ("registry", "pipeline")
DEADLINE_S = 170
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def nproc():
    return len(os.sched_getaffinity(0))


def spec():
    with open(os.path.join(CHECKOUT, "BENCHMARK.json")) as f:
        return json.load(f)


def jvm(classes, root, args, timeout):
    """Runs the harness main; returns its JSON record. Output goes to files
    under `root`; the process is killed and reaped on timeout."""
    cpus = str(nproc())
    tmp = os.path.join(root, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, SPARK_GRAFT_CPUS=cpus, SPARK_LOCAL_DIRS=os.path.join(root, "local"))
    env = {k: v for k, v in env.items() if not k.startswith("SPARK_GRAFT_CONF_")}
    out = os.path.join(root, "record.json")
    cmd = ["java"] + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS] + [
        "-Xmx3g", f"-XX:ParallelGCThreads={cpus}", "-XX:ConcGCThreads=1", "-XX:-UsePerfData",
        "-XX:ReservedCodeCacheSize=256m", f"-Djava.io.tmpdir={tmp}",
        f"-Dspark.sql.warehouse.dir={os.path.join(root, 'spark-warehouse')}",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-cp", f"{classes}:{os.path.join(build.spark_jars(), '*')}",
        "perfbench.Harness"] + [f"{k}={v}" for k, v in args.items()] + [f"out={out}"]
    log = os.path.join(root, "jvm.log")
    with open(log, "w") as lf:
        p = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT, env=env, cwd=root)
        try:
            rc = p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise RuntimeError(f"harness exceeded {timeout:.0f} s")
        except BaseException:  # interrupted: never leave the JVM running
            p.kill()
            p.wait()
            raise
    if rc != 0 or not os.path.exists(out):
        with open(log) as lf:
            tail = "".join(l for l in lf.readlines() if "WARN" not in l)[-3000:]
        raise RuntimeError(f"harness exited {rc}:\n{tail}")
    with open(out) as f:
        return json.load(f)


def make_inputs(workload, seed, inputs):
    os.makedirs(inputs)
    if workload == "pipeline":
        info = gen.pipeline(seed, inputs)
        gen.warmup(os.path.join(inputs, "warmup"))
        info["stream_records"] = gen.stream(seed, os.path.join(inputs, "stream.tsv"))
        return info
    return {}


def end_to_end(workload, rec, gen_s):
    ms = [o["ms"] for o in rec["ops"]]
    setups = [s["create_s"] + s["warmup_s"] for s in rec["setups"]]
    warm_pass = rec.get("warm_pass_s", 0.0)
    p_tail, v_tail = stats.tail(ms)
    metrics = {
        "setup_s": gen_s + statistics.median(setups) + warm_pass,
        "wall_s": rec["wall_s"],
        "op_p50_ms": statistics.median(ms),
        "op_tail_ms": v_tail,
    }
    detail = {"tail_percentile": p_tail, "samples": len(ms), "setups": rec["setups"], "gen_s": gen_s,
              "peak_rss_mb": rec["peak_rss_mb"]}
    if workload == "registry":
        per_query = {}
        for o in rec["ops"]:
            per_query.setdefault(o["name"], []).append(round(o["ms"], 1))
        detail.update(query_p50_ms=metrics["op_p50_ms"], query_tail_ms=v_tail,
                      passes=rec["passes"], op_ms=per_query)
        for s in ("relational", "text", "cc"):
            xs = [o["ms"] for o in rec["ops"] if o["stratum"] == s]
            if xs:
                detail[f"query_p50_ms.{s}"] = statistics.median(xs)
    else:
        ops = rec["ops"]
        first = [o for o in ops if o["name"] == "load.initial"]
        reingest = [o for o in ops if o["name"] == "load.reingest"]
        detail.update(
            etl_rows_per_s=sum(o["rows"] for o in first) / (sum(o["ms"] for o in first) / 1e3),
            reingest_rows_per_s=(sum(o["rows"] for o in reingest)
                                 / (sum(o["ms"] for o in reingest) / 1e3)),
            analyze_s=sum(o["ms"] for o in ops if o["name"] == "analyze") / 1e3,
            stream_s=sum(o["ms"] for o in ops if o["name"].startswith("stream.")) / 1e3,
            stream_batch_ms=rec.get("stream_batch_ms", []),
            op_ms=[[o["name"], round(o["ms"], 1)] for o in ops])
    return metrics, detail


def per_layer(workload, rec, names):
    layer = dict(rec["layer"])
    setups = rec["setups"]
    layer["GraftSession.create_s"] = statistics.median(s["create_s"] for s in setups)
    layer["warmup_s"] = statistics.median(s["warmup_s"] for s in setups) + rec.get("warm_pass_s", 0.0)
    for pre in [""] + [f"registry.{s}." for s in ("relational", "text", "cc")]:
        wall = layer.get(pre + "exec.op_wall_s", 0.0)
        stages = layer.get(pre + "exec.stages", 0.0)
        layer[pre + "exec.parallelism"] = layer.get(pre + "exec.task_run_s", 0.0) / wall if wall else 0.0
        layer[pre + "exec.single_task_stage_share"] = (
            layer.get(pre + "exec.single_task_stages", 0.0) / stages if stages else 0.0)
    spans = rec.get("spans", [])
    timed = [s for s in spans if s["name"] not in ("GraftSession.create", "warmup")]
    for name, v in stats.self_times(timed).items():
        layer[f"self_s.{name}"] = v
    layer["trace.spans"] = float(len(spans))
    layer["process.peak_rss_mb"] = rec["peak_rss_mb"]
    ref = untraced_wall(workload)
    layer["trace.overhead_s"] = rec["wall_s"] - ref if ref is not None else 0.0
    return {n: layer.get(n, 0.0) for n in names}


def untraced_wall(workload):
    """wall_s of the last untraced run of this workload in this checkout, else
    the committed baseline's."""
    for p in (os.path.join(build.OUT, f"untraced-{workload}.json"),
              os.path.join(HERE, "baseline", f"{workload}.untraced.json")):
        if os.path.exists(p):
            with open(p) as f:
                line = f.read().strip().splitlines()[-1]
            return json.loads(line)["metrics"]["wall_s"]["value"]
    return None


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    # A termination signal unwinds like an error, so the JVM is killed and
    # reaped and the run root removed.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        bench = spec()
        classes = build.build()
    except (OSError, ValueError, build.BuildError) as e:
        print(f"perfbench: cannot build: {e}", file=sys.stderr)
        return 2
    # The first run in a checkout pays the build; the run itself gets its own
    # deadline from here.
    started = time.monotonic()
    os.makedirs(os.path.join(CHECKOUT, ".bench_run"), exist_ok=True)
    root = os.path.join(CHECKOUT, ".bench_run", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(root, ignore_errors=True)
    try:
        g0 = time.monotonic()
        info = make_inputs(a.workload, a.seed, os.path.join(root, "inputs"))
        gen_s = time.monotonic() - g0
        rec = jvm(classes, root, {
            "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
            "root": root, "inputs": os.path.join(root, "inputs"), "bench": HERE,
        }, timeout=DEADLINE_S - (time.monotonic() - started))
    except Exception as e:  # noqa: BLE001 - any failure means no result
        print(f"perfbench: {a.workload} failed: {e}", file=sys.stderr)
        return 1
    finally:
        shutil.rmtree(root, ignore_errors=True)

    e2e, detail = end_to_end(a.workload, rec, gen_s)
    failed_ops = [o for o in rec["ops"] if not o["ok"]]
    failed_checks = [c for c in rec["checks"] if not c["ok"]]
    attempted = len(rec["ops"])
    failed = len(failed_ops) + len(failed_checks)
    detail.update(workload=a.workload, seed=a.seed, trace=a.trace, inputs=info,
                  ops_attempted=attempted, ops_failed=failed,
                  failures=[o.get("name", "") + " " + o.get("detail", "") for o in failed_ops][:20]
                  + [c["name"] + " " + c["detail"] for c in failed_checks])
    if a.trace:
        names = [m["name"] for m in bench["per_layer"]]
        units = {m["name"]: m["unit"] for m in bench["per_layer"]}
        values = per_layer(a.workload, rec, names)
    else:
        units = {m["name"]: m["unit"] for m in bench["end_to_end"]}
        values = {n: e2e[n] for n in units}
    result = {
        "correct": failed == 0 and attempted > 0,
        "attempted": max(attempted, 1),
        "failed": failed,
        "metrics": {n: {"value": v, "unit": units[n]} for n, v in values.items()},
    }
    line = json.dumps(result)
    if not a.trace:
        os.makedirs(build.OUT, exist_ok=True)
        with open(os.path.join(build.OUT, f"untraced-{a.workload}.json"), "w") as f:
            f.write(line + "\n")
    print(json.dumps(detail))
    print(line)
    return 0


if __name__ == "__main__":
    sys.exit(main())
