#!/usr/bin/env python3
"""The repository benchmark: one command per workload.

    python3 perfbench/run.py --workload realtime|analytics \\
        --seed N --seconds S --trace 0|1

Run from the repository root. The first run builds the engine from
`src/main/scala` and the harness from `perfbench/harness` into
`.bench_build/` (later runs reuse it while the sources are unchanged),
generates the workload's inputs from the seed, starts the engine process,
measures for `--seconds`, checks every answer, and prints one short JSON
line per metric followed by the result line:

    {"correct": true, "attempted": N, "failed": 0, "metrics": {...}}

With `--trace 0` the metrics are BENCHMARK.json's end-to-end metrics; with
`--trace 1` the measured phase runs once untraced and once traced (spans,
in-process replays, listener readings) and the metrics are its per-layer
metrics, with tracing overhead printed as traced minus untraced. Full
records, spans and the engine log go to `.bench_out/<workload>-trace<t>/`. Every run works
in its own `.bench_runs/<workload>-<pid>/` (temp dir, Spark local dir,
derived layouts, sink and checkpoint), deleted when the run ends.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import loadgen  # noqa: E402
import stats  # noqa: E402
import workloads  # noqa: E402

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")

def spark_home():
    """$SPARK_HOME, else the first Spark installation (a directory with
    bin/spark-submit and jars/) on PATH."""
    if os.environ.get("SPARK_HOME"):
        return os.environ["SPARK_HOME"]
    for d in os.environ.get("PATH", "").split(os.pathsep):
        home = os.path.dirname(d.rstrip(os.sep))
        if os.path.isfile(os.path.join(d, "spark-submit")) and os.path.isdir(os.path.join(home, "jars")):
            return home
    return ""


SPARK_JARS = os.path.join(spark_home(), "jars")
RUN_LIMIT_S = 170
# Spark on JDK 17 outside spark-submit needs the module opens spark-submit
# would pass (the same list as the root build's javaOptions).
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources(d):
    out = []
    for base, _, files in os.walk(d):
        out += [os.path.join(base, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def scalac(classpath, out_dir, files):
    os.makedirs(out_dir, exist_ok=True)
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx3g", "-cp", os.path.join(SPARK_JARS, "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", out_dir]
    if classpath:
        cmd += ["-classpath", classpath]
    r = subprocess.run(cmd + files, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        print(r.stdout[-4000:], file=sys.stderr)
        fail(f"compile failed in {out_dir}")


def build():
    """Compile engine and harness with the Scala compiler that ships with
    Spark's jars, unless the stamp of their sources is unchanged."""
    engine_src = sources(os.path.join(ROOT, "src", "main", "scala"))
    harness_src = sources(os.path.join(HERE, "harness"))
    if not engine_src:
        fail("no engine sources under src/main/scala: run from the repository root")
    if not os.path.isdir(SPARK_JARS):
        fail("Spark jars not found: set SPARK_HOME or put spark-submit on PATH")
    h = hashlib.sha256()
    for f in engine_src + harness_src:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    stamp_file = os.path.join(BUILD, "stamp")
    engine, harness = os.path.join(BUILD, "engine"), os.path.join(BUILD, "harness")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return engine, harness
    shutil.rmtree(BUILD, ignore_errors=True)
    scalac(None, engine, engine_src)
    scalac(engine, harness, harness_src)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return engine, harness


class Context:
    def __init__(self, args, cfg, run_dir, data_dir, cores):
        self.cfg, self.seed, self.seconds = cfg, args.seed, args.seconds
        self.trace, self.tracing = bool(args.trace), False
        self.run_dir, self.data_dir, self.cores = run_dir, data_dir, cores
        self.spans = []
        self.control = None
        self.control_clients = []
        self.broker_port = None
        self.setup_s = None
        self.warm_s = None
        self.history = []  # every request text (or declared-query name) run, in order
        self.t0 = time.time()
        self.phases = {}

    def mark(self, name):
        self.phases[name] = round(time.time() - self.t0, 3)

    def warmed(self, warm_s):
        """The untimed warm-up ended; warm_s is the engine time it took."""
        self.warm_s = warm_s
        self.mark("warmed")

    def connect(self, port):
        self.control = loadgen.Client(port, timeout=170)
        self.control_clients = [loadgen.Client(port, timeout=170) for _ in range(self.cores)]

    def post(self, path, payload):
        status, body, _ = self.control.post(path, payload)
        if status != 200:
            raise RuntimeError(f"{path}: {body.get('error')}")
        return body

    def setup(self, tables, layout_queries, broker):
        tmp = [os.path.join(self.run_dir, "tmp", f"bringup-{i}") for i in range(self.cfg["setup_bringups"])]
        out = self.post("/setup", {"data": self.data_dir, "tables": tables, "layout_queries": layout_queries,
                                   "tmp_dirs": tmp, "broker": broker})
        self.broker_port = out.get("broker_port")
        self.setup_s = out["bringup_s"]
        self.mark("setup")
        return out


def start_engine(engine, harness, run_dir, out_dir, cores, heap):
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    cp = os.pathsep.join([engine, harness, os.path.join(SPARK_JARS, "*")])
    # an explicit maximum heap (the engine's default would size it from the
    # host); no perf-data file, so nothing is written outside the checkout
    cmd = ["java", "-XX:-UsePerfData", f"-Xmx{heap}", *ADD_OPENS,
           f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={local}", f"-Dderby.system.home={run_dir}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC", "-cp", cp,
           "graftbench.Harness", str(cores), os.path.join(out_dir, "spans.jsonl")]
    log = open(os.path.join(out_dir, "engine.log"), "w")
    proc = subprocess.Popen(cmd, cwd=run_dir, stdout=subprocess.PIPE, stderr=log, text=True)
    port = None
    for line in proc.stdout:
        if line.startswith("PERFBENCH_CONTROL "):
            port = int(line.split()[1])
            break
    if port is None:
        proc.wait()
        raise RuntimeError("engine process exited before listening")
    threading.Thread(target=lambda: [log.write(x) for x in proc.stdout], daemon=True).start()
    return proc, port


def stop_engine(proc, ctx):
    peak = {}
    if proc.poll() is None and ctx.control is not None:
        try:
            peak = ctx.post("/shutdown", {})
        except Exception:
            pass
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    return peak


def emit(res, workload, bench, trace, out_dir):
    lines = []
    for name, (v, unit, n, pct) in sorted(res.e2e.items()):
        lines.append(stats.metric_line(name, workload, v, unit, n, pct))
    lines.append(stats.metric_line("failed_ratio", workload, res.failed / max(1, res.attempted),
                                   "ratio", res.attempted))
    for name, (v, unit, n, pct) in sorted(res.layers.items()):
        lines.append(stats.metric_line(name, workload, v, unit, n, pct))
    wanted = bench["per_layer"] if trace else bench["end_to_end"]
    source = res.layers if trace else res.e2e
    metrics = {}
    for m in wanted:
        if m["name"] not in source:
            raise RuntimeError(f"workload {workload} did not measure {m['name']}")
        metrics[m["name"]] = (source[m["name"]][0], m["unit"])
    with open(os.path.join(out_dir, "metrics.jsonl"), "w") as f:
        f.write("\n".join(lines) + "\n")
    for line in lines:
        print(line)
    for e in res.errors:
        print(json.dumps({"error": e[:300]}), file=sys.stderr)
    print(stats.result_line(res.failed == 0, res.attempted, res.failed, metrics))


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    t_start = time.time()
    # a terminated run still stops the engine process (the finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    bench_file = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(bench_file):
        fail("BENCHMARK.json not found: run from the repository root")
    with open(bench_file) as f:
        bench = json.load(f)
    with open(os.path.join(HERE, "config.json")) as f:
        cfg = json.load(f)
    engine, harness = build()

    cores = len(os.sched_getaffinity(0))
    run_dir = os.path.join(ROOT, ".bench_runs", f"{args.workload}-{os.getpid()}")
    out_dir = os.path.join(ROOT, ".bench_out", f"{args.workload}-trace{args.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(run_dir)
    os.makedirs(out_dir)
    data_dir = os.path.join(run_dir, "data")
    wcfg = cfg[args.workload]
    t_gen = time.time()
    if wcfg.get("tables"):
        gen.tables(data_dir, wcfg["scale"], args.seed, wcfg["tables"])
    gen_s = time.time() - t_gen

    ctx = Context(args, cfg, run_dir, data_dir, cores)
    proc = None

    def overrun():
        if proc is not None:
            proc.kill()
            proc.wait()
        shutil.rmtree(run_dir, ignore_errors=True)
        os._exit(3)
    watchdog = threading.Timer(RUN_LIMIT_S, overrun)
    watchdog.daemon = True
    watchdog.start()
    res = workloads.Result()
    try:
        proc, port = start_engine(engine, harness, run_dir, out_dir, cores, cfg["heap"])
        ctx.connect(port)
        ctx.mark("engine_started")
        workloads.WORKLOADS[args.workload](ctx, res)
        res.e2e["setup_s"] = (stats.median(ctx.setup_s), "s", len(ctx.setup_s), 50.0)
        # the first bring-up, timed from JVM start, plus the untimed warm-up
        res.e2e["setup_cold_s"] = (ctx.setup_s[0] + ctx.warm_s, "s", 1, None)
        ctx.mark("measured")
        peak = stop_engine(proc, ctx)
        ctx.mark("engine_stopped")
        if not peak.get("peak_in_use_kb"):
            raise RuntimeError("engine did not report its peak memory")
        res.e2e["peak_mem_mb"] = (peak["peak_in_use_kb"] / 1024.0, "MB", 1, None)
        res.e2e["peak_rss_mb"] = (peak["peak_rss_kb"] / 1024.0, "MB", 1, None)
        res.record.update(workload=args.workload, seed=args.seed, seconds=args.seconds, cores=cores,
                          heap=cfg["heap"], datagen_s=gen_s, bringup_s=ctx.setup_s, phases=ctx.phases,
                          wall_s=time.time() - t_start, errors=res.errors)
        with open(os.path.join(out_dir, "record.json"), "w") as f:
            json.dump(res.record, f)
        with open(os.path.join(out_dir, "layers.json"), "w") as f:
            json.dump({k: list(v) for k, v in res.layers.items()}, f, indent=1)
        if ctx.spans:
            with open(os.path.join(out_dir, "spans.jsonl"), "a") as f:
                for s in ctx.spans:
                    f.write(json.dumps(s) + "\n")
        emit(res, args.workload, bench, args.trace, out_dir)
    finally:
        if proc is not None and proc.poll() is None:
            stop_engine(proc, ctx)
        for c in [ctx.control] + ctx.control_clients:
            if c is not None:
                c.close()
        shutil.rmtree(run_dir, ignore_errors=True)
        watchdog.cancel()


if __name__ == "__main__":
    main()
