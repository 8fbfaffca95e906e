#!/usr/bin/env python3
"""Product-path benchmark of the graft engine.

    python3 perfbench/run.py --workload {product,analytics} \
        --seed N --seconds S --trace {0,1}

Run from the repository root. The first run in a checkout builds the
engine and the harness with sbt (offline) into `target/` and
`.bench_build/`; later runs reuse the build until a source changes.
One JVM runs one workload (`perfbench.Main`); this script bounds it in
time, prints every metric with its unit and sample count, and ends with
one JSON line: `correct`, `attempted`, `failed` and `metrics` (the
end-to-end metrics of BENCHMARK.json with --trace 0, the per-layer
ones with --trace 1).
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
BUILD = ROOT / ".bench_build"
CLASSPATH = BUILD / "classpath.txt"
FIXTURE = BENCH / "fixture" / "sf0.001"
RUN_LIMIT_S = 170
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources():
    engine = ROOT / "src" / "main"
    if not engine.is_dir():
        raise SystemExit("perfbench: engine sources (src/main) not found; "
                         "run from the root of a full checkout")
    files = [p for d in (engine, BENCH / "src") for p in d.rglob("*") if p.is_file()]
    files += [ROOT / "build.sbt", BENCH / "build.sbt"]
    files += list((ROOT / "project").glob("*.properties")) + list((BENCH / "project").glob("*.properties"))
    return [p for p in files if p.exists()]


def run_group(cmd, timeout, **kw):
    """Runs cmd in its own process group. Kills the group and waits for it
    on timeout, and also when this script is interrupted or terminated."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)

    def kill_group(*_):
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        proc.wait()

    def on_signal(signum, _frame):
        kill_group()
        raise SystemExit(128 + signum)

    previous = {s: signal.signal(s, on_signal) for s in (signal.SIGTERM, signal.SIGINT)}
    try:
        out, _ = proc.communicate(timeout=timeout)
        return proc.returncode, out
    except subprocess.TimeoutExpired:
        kill_group()
        return None, None
    finally:
        for s, h in previous.items():
            signal.signal(s, h)


def build():
    newest = max(p.stat().st_mtime for p in sources())
    if CLASSPATH.exists() and CLASSPATH.stat().st_mtime >= newest:
        return CLASSPATH.read_text().strip()
    BUILD.mkdir(exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    log("building engine and harness (sbt, offline)")
    t0 = time.time()
    # no server, no boot lock and an ivy home inside the build directory:
    # the build reads the offline caches and writes only in the checkout
    code, out = run_group(
        ["sbt", "-batch", "-Dsbt.server.autostart=false", "-Dsbt.boot.lock=false",
         f"-Dsbt.ivy.home={BUILD / 'ivy2'}", "export Runtime/fullClasspath"],
        timeout=840, cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True)
    lines = [ln for ln in (out or "").splitlines() if ln.strip()]
    if code != 0 or not lines or "perfbench" not in lines[-1]:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        raise SystemExit(f"perfbench: build failed (exit {code})")
    CLASSPATH.write_text(lines[-1].strip() + "\n")
    log(f"built in {time.time() - t0:.0f}s")
    return lines[-1].strip()


def declared():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return spec["end_to_end"], spec["per_layer"]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--gen-only", action="store_true",
                    help="write the seeded inputs to the run directory and stop")
    a = ap.parse_args()

    end_to_end, per_layer = declared()
    cp = build()
    started = time.time()
    run = BUILD / "runs" / f"{a.workload}-seed{a.seed}-trace{a.trace}"
    shutil.rmtree(run, ignore_errors=True)
    (run / "tmp").mkdir(parents=True)
    cmd = (["java", "-Xms4g", "-Xmx4g", "-Duser.timezone=UTC", "-Dspark.ui.enabled=false",
            "-Dspark.sql.codegen.cache.maxEntries=5000",
            f"-Djava.io.tmpdir={run / 'tmp'}", f"-Dderby.system.home={run}"]
           + [x for p in JVM_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", str(a.trace), "--fixture", str(FIXTURE),
              "--out", str(run), "--reference", str(BENCH / "reference" / "analytics_digests.json")]
           + (["--gen-only", "1"] if a.gen_only else []))
    with open(run / "java.log", "w") as jlog:
        code, _ = run_group(cmd, timeout=RUN_LIMIT_S, cwd=run, stdout=jlog, stderr=subprocess.STDOUT)
    if code != 0:
        tail = (run / "java.log").read_text(errors="replace").splitlines()[-30:]
        sys.stderr.write("\n".join(tail) + "\n")
        raise SystemExit(f"perfbench: {a.workload} run "
                         + ("timed out" if code is None else f"exited {code}"))
    shutil.rmtree(run / "work", ignore_errors=True)
    shutil.rmtree(run / "tmp", ignore_errors=True)
    if a.gen_only:
        print(json.dumps({"run_dir": str(run)}))
        return

    res = json.loads((run / "result.json").read_text())
    m = res["metrics"]
    wanted = per_layer if a.trace else end_to_end
    missing = [d["name"] for d in wanted if d["name"] not in m]
    if missing:
        raise SystemExit(f"perfbench: result lacks metrics {missing}")

    ctx0, ctx1 = res["context_start"], res["context_end"]
    print(f"workload {a.workload}  seed {a.seed}  seconds {a.seconds}  trace {a.trace}  "
          f"wall {time.time() - started:.1f}s")
    print(f"context: cores {ctx0['cores']}, heap {ctx0['heap_max_mb']} MB, "
          f"loadavg {ctx0['loadavg']} -> {ctx1['loadavg']}, "
          f"other java processes {len(ctx0['other_java_processes'])} -> "
          f"{len(ctx1['other_java_processes'])}, SPARK_GRAFT_* {ctx0['spark_graft_env'] or 'none'}")
    for name in [d["name"] for d in end_to_end] + ["error_rate", "peak_rss_mb"]:
        if name in m:
            v = m[name]
            value = float("nan") if v["value"] is None else v["value"]
            print(f"  {name:<28} {value:>14.6g} {v['unit']:<6} (n={v['samples']})")
    failed_checks = [c for c in res["checks"] if not c["ok"]]
    print(f"checks: {len(res['checks']) - len(failed_checks)}/{len(res['checks'])} passed"
          + "".join(f"\n  FAILED {c['name']}: {c['detail']}" for c in failed_checks))
    if a.trace:
        layers = sorted(res["layer_self_s"].items(), key=lambda kv: -kv[1])
        print("self time by layer: " + ", ".join(f"{k} {v:.3f}s" for k, v in layers))
        plain = BUILD / "runs" / f"{a.workload}-seed{a.seed}-trace0" / "result.json"
        if plain.exists():
            untraced = json.loads(plain.read_text())["metrics"]
            for name in ("batch_s", "latency_p50_s"):
                base, traced = untraced[name]["value"], m[f"traced.{name}"]["value"]
                print(f"tracing overhead: {name} {traced:.4f}s traced vs {base:.4f}s "
                      f"untraced ({(traced - base) / base:+.1%})")
        print(f"spans: {run / 'spans.jsonl'}")
    print(json.dumps({
        "correct": bool(res["correct"]),
        "attempted": int(res["attempted"]),
        "failed": int(res["failed"]),
        "metrics": {d["name"]: {"value": m[d["name"]]["value"], "unit": m[d["name"]]["unit"]}
                    for d in wanted},
    }))


if __name__ == "__main__":
    main()
