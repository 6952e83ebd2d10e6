#!/usr/bin/env python3
"""Run one graft benchmark workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <n> --trace <0|1>

Run it from the root of a graft checkout. The first run builds the
program and the benchmark from the checkout's sources with sbt (offline)
and keeps the classpath under the build directory (`$CARGO_TARGET_DIR`,
default `.bench_build`); later runs of an unchanged tree reuse it. Each
run starts one JVM with Spark `local[4]`, generates its inputs from the
seed, sets up, measures for `--seconds`, checks every output, and prints
a report line and then, last, the one-line JSON result. Reports and
traced spans are kept under `.bench_out/`.
"""

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
WORKLOADS = ("census_daily", "store_upsert", "corpus_prep", "event_stream")
BUILD_TIMEOUT_S = 780
RUN_TIMEOUT_S = 170
HEAP = "2g"

# Spark 4 on JDK 17 needs these outside spark-submit; the same list as
# the program's own build.sbt.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


def parse_args():
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=int)
    p.add_argument("--trace", required=True, type=int, choices=(0, 1))
    p.add_argument("--ops", type=int, default=None,
                   help="run exactly this many steps (tests only)")
    a = p.parse_args()
    if a.seconds < 1:
        p.error("--seconds must be at least 1")
    return a


def source_files():
    files = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
             BENCH / "build.sbt", BENCH / "project" / "build.properties"]
    for d in (ROOT / "src" / "main", BENCH / "src"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    return files


def build_dir():
    d = Path(os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    return d if d.is_absolute() else ROOT / d


def sbt_env():
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    if not env.get("SBT_OPTS"):
        opts = ["-Dsbt.override.build.repos=true", "-Dsbt.offline=true", "-Xmx2g"]
        repos = Path.home() / ".sbt" / "repositories"
        if repos.is_file():
            opts.append(f"-Dsbt.repository.config={repos}")
        env["SBT_OPTS"] = " ".join(opts)
    return env


def run_bounded(cmd, timeout, **kw):
    """Run cmd in its own process group; kill the whole group on timeout
    and wait until it has ended."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, err = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        fail(f"{cmd[0]} timed out after {timeout} s", 3)
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        raise
    return proc.returncode, out, err


def classpath():
    h = hashlib.sha256()
    for f in source_files():
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    stamp = build_dir() / f"classpath-{h.hexdigest()[:16]}.txt"
    if stamp.is_file():
        return stamp.read_text().strip()
    if shutil.which("sbt") is None:
        fail("sbt is not on PATH; it is needed to build the program")
    print("[perfbench] building program and benchmark with sbt", file=sys.stderr)
    code, out, _ = run_bounded(
        ["sbt", "--batch", "-Dsbt.log.noformat=true",
         "perfbench/compile", "export perfbench/Runtime/fullClasspath"],
        BUILD_TIMEOUT_S, cwd=BENCH, env=sbt_env(),
        stdout=subprocess.PIPE, text=True)
    if code != 0:
        sys.stderr.write(out)
        fail(f"sbt build failed with exit code {code}", 3)
    lines = [l for l in out.splitlines() if ".jar" in l and not l.startswith("[")]
    if not lines:
        sys.stderr.write(out)
        fail("sbt printed no classpath", 3)
    stamp.parent.mkdir(parents=True, exist_ok=True)
    stamp.write_text(lines[-1].strip() + "\n")
    return lines[-1].strip()


def add_run_overhead(line, a):
    """A traced run measures its own latency overhead from the untraced
    ops inside it. Set-up and heap have one value a run, so their
    overhead is taken against the untraced run of the same workload and
    seed, when its report is kept under `.bench_out/`."""
    base = ROOT / ".bench_out" / f"{a.workload}-seed{a.seed}-trace0.report.json"
    if not base.is_file():
        return line
    doc = json.loads(line)
    rep = doc["report"]
    untraced = json.loads(base.read_text())["end_to_end"]
    over = rep.setdefault("tracing_overhead", {})
    for k in ("setup_s", "heap_live_peak_mb"):
        if k in untraced and k in rep["end_to_end"]:
            over[k] = rep["end_to_end"][k] - untraced[k]
    kept = ROOT / ".bench_out" / f"{a.workload}-seed{a.seed}-trace1.report.json"
    if kept.is_file():
        kept.write_text(json.dumps(rep) + "\n")
    return json.dumps(doc)


def main():
    # a terminated run still stops and reaps the JVM it started
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    a = parse_args()
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        fail(f"no graft sources under {ROOT}: run from the root of a graft checkout")
    cp = classpath()
    runs = build_dir() / "runs"
    work = runs / f"{a.workload}-seed{a.seed}-trace{a.trace}-{os.getpid()}"
    java = Path(os.environ["JAVA_HOME"]) / "bin" / "java" if os.environ.get("JAVA_HOME") else "java"
    # a fixed heap: the forced collections of the heap samples would
    # otherwise shrink it, and the next ops would run in a small young gen
    cmd = [str(java), f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:ReservedCodeCacheSize=256m",
           "-Duser.timezone=UTC", f"-Djava.io.tmpdir={work}-tmp"]
    for o in ADD_OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graftbench.Main", "--workload", a.workload,
            "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", str(work)]
    if a.ops is not None:
        cmd += ["--ops", str(a.ops)]
    (Path(f"{work}-tmp")).mkdir(parents=True, exist_ok=True)
    try:
        code, out, _ = run_bounded(cmd, RUN_TIMEOUT_S, cwd=ROOT,
                                   stdout=subprocess.PIPE, text=True)
    finally:
        keep = ROOT / ".bench_out"
        keep.mkdir(exist_ok=True)
        for suffix in (".report.json", ".spans.json"):
            f = Path(f"{work}{suffix}")
            if f.is_file():
                shutil.move(str(f), keep / f"{a.workload}-seed{a.seed}-trace{a.trace}{suffix}")
        shutil.rmtree(work, ignore_errors=True)
        shutil.rmtree(f"{work}-tmp", ignore_errors=True)
    lines = [l for l in out.splitlines() if l.strip()]
    for l in lines:
        if l.startswith('{"report"'):
            print(add_run_overhead(l, a) if a.trace else l)
    if a.ops == 0:
        sys.exit(code)
    if lines and lines[-1].startswith('{"correct"'):
        print(lines[-1])
    else:
        fail(f"the benchmark JVM exited with code {code} and no result", code or 1)
    sys.stdout.flush()
    sys.exit(code)


if __name__ == "__main__":
    main()
