#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Builds the engine and the harness from this checkout's sources (sbt,
once per source state), generates the workload's inputs from the seed,
runs the harness in one JVM, checks the outputs and prints a metric table
followed, as the last line, by one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are BENCHMARK.json's end_to_end list, with
--trace 1 its per_layer list (0 for a layer the workload never calls).
Everything the run writes stays under perfbench/.work, .build and .out.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources():
    """Every file whose change requires a rebuild."""
    out = []
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")):
        for d, _, fs in os.walk(base):
            out += [os.path.join(d, f) for f in fs]
    out += [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    return sorted(out)


def build():
    """Compile with sbt when the sources changed; return the classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        die("no engine sources at src/main/scala next to perfbench/")
    h = hashlib.sha256()
    for f in sources():
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    bdir = os.path.join(HERE, ".build")
    cp_file = os.path.join(bdir, "classpath.txt")
    stamp_file = os.path.join(bdir, "stamp.txt")
    if os.path.exists(cp_file) and os.path.exists(stamp_file) \
            and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    os.makedirs(bdir, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   f"-Dsbt.repository.config={os.path.expanduser('~/.sbt/repositories')} "
                   "-Dsbt.offline=true -Xmx2g")
    if not os.path.isdir(os.path.join(env.get("SPARK_HOME", ""), "jars")):
        die("SPARK_HOME must name the Spark installation whose jars/ the build uses")
    print("perfbench: building (sbt compile)", file=sys.stderr)
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                        "compile", "export Runtime/fullClasspath"],
                       cwd=HERE, env=env, capture_output=True, text=True,
                       timeout=BUILD_TIMEOUT_S, stdin=subprocess.DEVNULL)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or not lines[-1].startswith("/"):
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-2000:])
        die("build failed")
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return lines[-1]


def gen_inputs(workload, seed, data, params):
    import numpy as np
    import gen
    rng = np.random.default_rng(seed)
    if workload == "crawl_cycle":
        split_docs(rng, gen.documents(rng, params["docs"]), params["increments"],
                   os.path.join(data, "crawl"))
        warm = np.random.default_rng([seed, 1])
        gen.write(gen.documents(warm, params["warm_docs"]),
                  os.path.join(data, "crawl_warm", "documents.parquet"))
    else:
        announce_inputs(rng, seed, params, os.path.join(data, "announce"))


def split_docs(rng, docs, increments, out):
    """seed crawl 40 %, `increments` equal increments, held-out probes 15 %."""
    import numpy as np
    import gen
    n = docs.num_rows
    perm = rng.permutation(n)
    n_seed, n_probe = int(n * 0.4), int(n * 0.15)
    cuts = np.linspace(n_seed, n - n_probe, increments + 1).astype(int)
    parts = {"seed": perm[:n_seed], "probe": perm[n - n_probe:]}
    for i in range(increments):
        parts[f"inc{i + 1}"] = perm[cuts[i]:cuts[i + 1]]
    for name, idx in parts.items():
        gen.write(docs.take(np.sort(idx)), os.path.join(out, name, "part-0.parquet"))


def announce_inputs(rng, seed, p, out):
    """NEEQ oplog envelopes, one JSON line each, for phase A and phase B."""
    import gen
    os.makedirs(out, exist_ok=True)
    texts = gen.documents(rng, p["title_docs"]).column("text").to_pylist()
    w = 1.0 / (1 + __import__("numpy").arange(20)) ** 1.1
    w = w / w.sum()

    def envelopes(phase, n):
        lines = []
        for i in range(n):
            words = texts[int(rng.integers(0, len(texts)))].split(" ")
            k = p["title_words"]
            s = int(rng.integers(0, max(1, len(words) - k)))
            src = int(rng.choice(20, p=w))
            o = {"st_name": f"src{src}", "st_code": f"83{src:04d}",
                 "title": " ".join(words[s:s + k]),
                 "publish_date": f"2024-01-{1 + i % 28:02d}T{i % 24:02d}:{i % 60:02d}:00.000Z",
                 "url": f"http://neeq.example/{seed}/{phase}/{i}"}
            if rng.random() < p["update_share"]:
                o["$set"] = {"title": o["title"]}
            lines.append(json.dumps({"o": o}, ensure_ascii=False))
        with open(os.path.join(out, f"phase_{phase}.jsonl"), "w") as f:
            f.write("\n".join(lines) + "\n")

    envelopes("a", p["phase_a_events"])
    envelopes("b", p["backlog"])


def run_jvm(cp, args, work):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    # a fixed young generation: every timed body sees many young GCs, so
    # heap_peak_mb (old gen after GC) lands near the body's high-water mark
    cmd += ["-Xmx3g", "-Xmn256m", "-XX:+UseG1GC", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", cp, "perfbench.Main"] + args
    with open(os.path.join(work, "jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            rc = proc.wait(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            rc = "timeout"
    return rc


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    with open(os.path.join(HERE, "spec.json")) as f:
        spec = json.load(f)
    if a.workload not in spec["workloads"]:
        die(f"unknown workload {a.workload}")
    params = spec["workloads"][a.workload]["params"]
    cp = build()

    work = os.path.join(HERE, ".work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    data = os.path.join(work, "data")
    os.makedirs(data)
    try:
        t_gen = time.time()
        gen_inputs(a.workload, a.seed, data, params)
        print(f"perfbench: inputs in {time.time() - t_gen:.1f} s", file=sys.stderr)
        args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--work", work, "--data", data]
        for k, v in params.items():
            if isinstance(v, (int, float)):
                args += [f"--{k}", str(v)]
        t0 = time.time()
        rc = run_jvm(cp, args, work)
        res_file = os.path.join(work, "result.json")
        if rc != 0 or not os.path.exists(res_file):
            with open(os.path.join(work, "jvm.log")) as f:
                sys.stderr.write(f.read()[-6000:])
            die(f"harness exited with {rc} after {time.time() - t0:.0f} s")
        with open(res_file) as f:
            res = json.load(f)
        notes = list(res["notes"])
        attempted, failed = res["attempted"], res["failed"]
        print(f"perfbench: harness in {time.time() - t0:.1f} s", file=sys.stderr)
        if a.trace:
            out = os.path.join(HERE, ".out", a.workload)
            os.makedirs(out, exist_ok=True)
            shutil.copy(os.path.join(work, "spans.jsonl"), os.path.join(out, "spans.jsonl"))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    want = bench["per_layer" if a.trace else "end_to_end"]
    metrics = {}
    for m in want:
        got = res["metrics"].get(m["name"])
        if got is None and not a.trace:
            die(f"harness did not measure {m['name']}")
        metrics[m["name"]] = {"value": got["value"] if got else 0.0, "unit": m["unit"]}
    for n in notes:
        print(f"note: {n}")
    print(f"{'error_rate':<28} {failed / max(1, attempted):>14.6g} fraction")
    for k, v in metrics.items():
        print(f"{k:<28} {v['value']:>14.6g} {v['unit']}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
