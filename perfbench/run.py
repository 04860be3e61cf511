#!/usr/bin/env python3
"""Run one benchmark workload once and print its metrics.

    python3 perfbench/run.py --workload lake_build --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. The first run builds the engine and the
benchmark driver from the checkout's sources (sbt, offline); later runs
reuse the build while the sources are unchanged. Each run then starts one
fresh driver JVM in a fresh run directory under `.perfbench_work/`, so no
lake, warehouse, bus, checkpoint, model artifact or in-JVM memo survives
from one run to the next.

The last line of standard output is one JSON object:
`{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}`, with
the end-to-end metrics of BENCHMARK.json when `--trace 0` and its per-layer
metrics when `--trace 1`. `--record-golden` rewrites the golden digests
kept in `perfbench/golden/` from this run instead of checking them.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
WORK = ROOT / ".perfbench_work"
WORKLOADS = ("lake_build", "event_stream")
RUN_LIMIT_S = 170
HEAP = "3g"
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def sources_hash():
    h = hashlib.sha256()
    tops = [ROOT / "src" / "main", BENCH / "src", BENCH / "build.sbt", BENCH / "project" / "build.properties"]
    for top in tops:
        files = [top] if top.is_file() else sorted(p for p in top.rglob("*") if p.is_file())
        for p in files:
            h.update(str(p.relative_to(ROOT)).encode())
            h.update(p.read_bytes())
    return h.hexdigest()


def build():
    """Compile the engine plus the driver; return the runtime classpath and
    the digest of the sources it was built from."""
    if not (ROOT / "src" / "main" / "scala").is_dir():
        fail(f"no engine sources under {ROOT / 'src' / 'main' / 'scala'}; run from a full checkout")
    stamp, cp_file = WORK / "build.sha256", WORK / "classpath.txt"
    digest = sources_hash()
    if cp_file.exists() and stamp.exists() and stamp.read_text() == digest:
        return cp_file.read_text().strip(), digest
    env = dict(os.environ, COURSIER_MODE="offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true -Dsbt.repository.config="
                   + str(Path.home() / ".sbt" / "repositories") + " -Dsbt.offline=true -Xmx2g")
    (WORK / "tmp").mkdir(exist_ok=True)
    out = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                          f"-Djava.io.tmpdir={WORK / 'tmp'}", "compile",
                          "export Runtime/fullClasspath"], cwd=BENCH, env=env,
                         stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=840)
    lines = [l for l in out.stdout.splitlines() if "scala-2.13/classes" in l and not l.startswith("[")]
    if out.returncode != 0 or not lines:
        sys.stderr.write(out.stdout[-4000:])
        fail("build failed")
    cp_file.write_text(lines[-1])
    stamp.write_text(digest)
    return lines[-1], digest


def isolation_band(timed_s, earlier):
    """This run's timed work as a share of the median of the earlier
    untraced runs of the same workload and build, and the share below which
    it fails. A memo, lake or warehouse table leaked from an earlier run
    would let this run skip work, so only a run that is too fast fails; a
    slow one is load, which the host stamp shows. The limit is the lower of
    0.75 and, once four earlier runs exist, Tukey's far-out fence
    Q1 - 3 IQR of their shares."""
    med = statistics.median(earlier)
    limit = 0.75
    if len(earlier) >= 4:
        q1, _, q3 = statistics.quantiles([t / med for t in earlier], n=4)
        limit = min(limit, q1 - 3 * (q3 - q1))
    return timed_s / med, limit


def spec():
    with open(ROOT / "BENCHMARK.json") as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record-golden", action="store_true")
    a = ap.parse_args()
    bench_spec = spec()
    fixture = BENCH / "fixture" / "sf0.01"
    if not fixture.is_dir():
        fail(f"fixture {fixture} missing")
    WORK.mkdir(exist_ok=True)
    cp, build_digest = build()

    run_dir = WORK / "runs" / f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    for d in ("local", "tmp"):
        (run_dir / d).mkdir(parents=True)
    golden = BENCH / "golden" / f"{a.workload}.json"
    out = run_dir / "result.json"
    cmd = ["java", *[f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS],
           f"-Xmx{HEAP}", "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           f"-Dspark.local.dir={run_dir / 'local'}", f"-Djava.io.tmpdir={run_dir / 'tmp'}",
           "-cp", cp, "org.apache.spark.perfbench.Main",
           "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
           "--trace", str(a.trace), "--fixture", str(fixture), "--out", str(out),
           "--golden", str(golden)]
    if a.record_golden:
        cmd += ["--record-golden", str(run_dir / "golden.json")]
    # the engine reads no tuning knobs from the environment in a run
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    env["SPARK_LOCAL_DIRS"] = str(run_dir / "local")

    top_before = set(os.listdir(ROOT))
    load_pre = os.getloadavg()[0]
    t_spawn = time.time()
    with open(run_dir / "driver.log", "w") as log:
        proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=log, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=RUN_LIMIT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = "timeout"
    load_post = os.getloadavg()[0]
    logs = WORK / "logs"
    logs.mkdir(exist_ok=True)
    shutil.copy(run_dir / "driver.log", logs / f"{a.workload}.log")
    if rc != 0 or not out.exists():
        sys.stderr.write((run_dir / "driver.log").read_text()[-4000:])
        shutil.rmtree(run_dir, ignore_errors=True)
        fail(f"driver JVM exited with {rc}")
    r = json.loads(out.read_text())
    shutil.copy(out, logs / f"{a.workload}.result.json")
    if a.record_golden and (run_dir / "golden.json").exists():
        shutil.copy(run_dir / "golden.json", golden)
    if a.trace:
        traces = WORK / "traces"
        traces.mkdir(exist_ok=True)
        shutil.copy(run_dir / "spans.json", traces / f"{a.workload}-{a.seed}.spans.json")
    shutil.rmtree(run_dir, ignore_errors=True)

    # isolation: a run writes nothing outside its own run directory
    leaked = sorted(set(os.listdir(ROOT)) - top_before - {WORK.name})
    failures = list(r["failures"]) + [f"isolation: run wrote {p} at the checkout root" for p in leaked]

    e2e = dict(r["e2e"], setup_s=r["first_op_epoch_ms"] / 1000.0 - t_spawn)
    # the untraced runs of this workload and build in this checkout so far
    history = WORK / "history.jsonl"
    earlier = [json.loads(l) for l in history.read_text().splitlines()] if history.exists() else []
    earlier = [h["timed_s"] for h in earlier if h["workload"] == a.workload and h["build"] == build_digest]
    band = isolation_band(r["timed_s"], earlier) if not a.trace and earlier else None
    if band and band[0] < band[1]:
        failures.append(f"isolation: timed work {band[0]:.3f} of the earlier runs' median, below {band[1]:.3f}")
    if not a.trace:
        with open(history, "a") as f:
            f.write(json.dumps({"workload": a.workload, "build": build_digest, "seed": a.seed,
                                "timed_s": r["timed_s"]}) + "\n")
    layer = dict(r["layer"])
    if a.trace:
        # tracing overhead: this traced run's timed work against the median
        # untraced one of the same build; 0 while there is none to compare
        layer["trace.overhead_pct"] = (
            100.0 * (r["timed_s"] / statistics.median(earlier) - 1) if earlier else 0.0)

    print(f"host: nproc={r['nproc']} load_avg_pre={load_pre:.2f} load_avg_post={load_post:.2f} "
          f"probe_s={r['probe_s']:.4f}")
    if band:
        print(f"isolation_band: timed work / median of {len(earlier)} earlier runs = {band[0]:.3f} "
              f"({'in' if band[0] >= band[1] else 'OUT OF'} band, fails below {band[1]:.3f})")
    if a.trace:
        print(f"report: trace.overhead_pct baseline = median of {len(earlier)} untraced runs"
              + ("" if earlier else " (none yet: not measured, reads 0)"))
    for k, v in sorted(r["report"].items()):
        if not isinstance(v, (dict, list)):
            print(f"report: {k} = {v}")
        elif isinstance(v, list) and all(isinstance(x, (int, float)) for x in v):
            print(f"report: {k} = {' '.join(f'{x:.4g}' for x in v)}")
        elif k.endswith("_tail"):
            print(f"report: {k} = p{v['percentile']} of n={v['n']}")
    for msg in failures:
        print(f"check failed: {msg}")
    section = "per_layer" if a.trace else "end_to_end"
    source = layer if a.trace else e2e
    metrics = {}
    for m in bench_spec[section]:
        # a layer the workload does not run did no work in it
        value = float(source[m["name"]] if not a.trace else source.get(m["name"], 0.0))
        metrics[m["name"]] = {"value": value, "unit": m["unit"]}
        print(f"metric: {m['name']} = {value:.6g} {m['unit']}")
    result = {"correct": not failures and r["failed"] == 0,
              "attempted": r["attempted"], "failed": r["failed"], "metrics": metrics}
    print(json.dumps(result))


if __name__ == "__main__":
    main()
